"""Measurement from outside the program: process-tree RSS, spans, and
Spark's own counters.

Nothing here reaches into flint_spark. Per-layer counters come from
three places Spark already keeps:

- the application status store (``statusStore().job`` and
  ``lastStageAttempt``) for jobs, stages, tasks, executor run time,
  shuffle bytes written and bytes spilled, read right after each call
  under the call's own job group;
- the event log, read after the session stops, for the SQL metrics of
  every stage (the Python boundary's bytes sent and returned). The SQL
  status store only keeps these as rounded display strings; the event
  log has the raw accumulator values;
- streaming query progress for trigger times and state-store sizes.
"""

from __future__ import annotations

import glob
import json
import os
import threading

PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


# ------------------------------------------------------------------ RSS

def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root: int) -> list[int]:
    children, todo, out = _children(), [root], []
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _tree_rss_bytes(root: int) -> int:
    """Summed resident set of ``root`` and all its descendants."""
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; :meth:`window` returns the peak since the last call."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.interval)

    def window(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, _tree_rss_bytes(os.getpid())
        return peak

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------- spans

def covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    segs = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                  if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -------------------------------------------------------- spark counters

class SparkCounters:
    """Reads job and stage data for one job group from the status store.
    A stage is counted once, by the first group whose jobs ran it;
    later jobs that reuse its shuffle output list it as skipped."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.seen_stages: set[int] = set()

    def group(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()  # events arrive asynchronously
        store = self.jsc.statusStore()
        jobs, stages = [], []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub = jd.submissionTime()
            done = jd.completionTime()
            jobs.append({"job": jid,
                         "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                         "end": done.get().getTime() / 1e3 if done.isDefined() else None})
            it = jd.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in self.seen_stages:
                    continue
                self.seen_stages.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                stages.append({"stage": sid,
                               "tasks": int(sd.numCompleteTasks()),
                               "run_ms": int(sd.executorRunTime()),
                               "shuffle_bytes": int(sd.shuffleWriteBytes()),
                               "spill_bytes": int(sd.diskBytesSpilled())})
        return {"jobs": jobs, "stages": stages}

    def cache_state(self) -> tuple[int, int]:
        """(persisted RDD count, bytes held in memory and on disk)."""
        n = int(self.sc._jsc.getPersistentRDDs().size())
        held = sum(int(i.memSize()) + int(i.diskSize())
                   for i in self.jsc.getRDDStorageInfo())
        return n, held


def python_bytes_by_stage(event_dir: str) -> dict[int, int]:
    """Per-stage bytes across the Python boundary (sent plus returned),
    from the SQL metric accumulables of the event log's completed
    stages."""
    out: dict[int, int] = {}
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                info = json.loads(line)["Stage Info"]
                n = sum(int(a["Value"]) for a in info.get("Accumulables", ())
                        if a.get("Name") in PY_BYTES)
                out[info["Stage ID"]] = out.get(info["Stage ID"], 0) + n
    return out
