"""Measurement helpers that watch the program from outside.

Neither helper launches a Spark job: the RSS sampler only reads
``/proc``, and job accounting only reads the status store that
``SparkContext.statusTracker()`` is built on (the same store, reached
through the JVM so that job submission times and stage shuffle/spill
bytes are visible too).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> "dict[int, list[int]]":
    kids: dict[int, list[int]] = {}
    for e in os.listdir("/proc"):
        if not e.isdigit():
            continue
        try:
            with open(f"/proc/{e}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the command name sits in parentheses and may contain spaces
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(e))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of `root` and all its descendants (Python driver,
    the JVM it launched, and the JVM's Python workers)."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak RSS of this process tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


@dataclass
class JobRecord:
    job_id: int
    submitted_s: float  # wall-clock seconds since the epoch
    tasks: int  # tasks that ran (skipped stages excluded)
    shuffle_write_bytes: int
    spill_bytes: int


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def jobs_after(spark, last_job_id: int) -> "list[JobRecord]":
    """Jobs with id > last_job_id, read from the status store after the
    listener bus has drained (so no finished job is missing)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for jd in _seq(store.jobsList(None)):
        jid = jd.jobId()
        if jid <= last_job_id or not jd.submissionTime().isDefined():
            continue
        shuffle = spill = 0
        for sid in _seq(jd.stageIds()):
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled()
        out.append(
            JobRecord(
                jid,
                jd.submissionTime().get().getTime() / 1000.0,
                jd.numCompletedTasks(),
                shuffle,
                spill,
            )
        )
    return sorted(out, key=lambda j: j.job_id)


def last_job_id(spark) -> int:
    ids = [j.job_id for j in jobs_after(spark, -1)]
    return max(ids, default=-1)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def now() -> float:
    return time.time()
