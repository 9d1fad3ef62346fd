"""Traced-run instrumentation, all from outside the package.

* Spans: one per benchmark call into a layer's public function, plus child
  spans per plan stage rebuilt from ``last_batch_trace`` / the
  ``SearchTraceStep`` list.  Kept in memory, written out at the end.
* Spark attribution: each call on the main thread runs under the
  benchmark's own job group (``pb-<n>``); after the call the Spark status
  store (``sc._jsc.sc().statusStore()``, works with the UI disabled) is
  read for the jobs submitted since the last read.  Jobs are bucketed by
  job group: ``pb-*`` → main thread, the plan's ``specvec-*`` → vector
  probe, ``specfz-*`` → fuzzy scoring, no group → the plan's other helper
  threads.  The store keeps only ``spark.ui.retainedStages`` stages, so it
  is read after every call, not once at the end.

* CPU: the status store's executor CPU covers JVM task threads only; the
  Python UDF workers' CPU shows in task run time.  Each span also records
  the CPU time (user + system, from /proc) of the whole run's process
  group — client, driver JVM and Python workers — over its interval.

A disabled tracer sets no job group and never touches the status store.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

BUCKETS = ("main", "vector", "fuzzy", "ungrouped")
SETTLE_S = 5.0
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file; None if gone."""
    try:
        with open(path) as fh:
            head, rest = fh.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], rest.split()


def group_cpu_s() -> tuple[float, float]:
    """→ (CPU seconds, of which JIT compilation) of this process group: the
    run's client, the driver JVM and its Python workers, each live process
    plus the children it has reaped (exited Python workers).  The JIT part
    is the CPU of the JVM's compiler threads, which run.py keeps alive for
    the whole run so that it can be read."""
    pgid, total, jit = os.getpgid(0), 0, 0
    for name in os.listdir("/proc"):
        st = _stat(f"/proc/{name}/stat") if name.isdigit() else None
        if st is None or int(st[1][2]) != pgid:
            continue
        f = st[1]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        if st[0] != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{name}/task")
        except OSError:
            continue
        for tid in tids:
            t = _stat(f"/proc/{name}/task/{tid}/stat")
            # HotSpot names them "C1 CompilerThread<n>" / "C2 CompilerThread<n>"
            if t is not None and "CompilerThre" in t[0]:
                jit += int(t[1][11]) + int(t[1][12])
    return total / _TICK, jit / _TICK


def bucket_of(group: str | None) -> str:
    if group is None:
        return "ungrouped"
    if group.startswith("specvec-"):
        return "vector"
    if group.startswith("specfz-"):
        return "fuzzy"
    return "main"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    trace: str
    sid: int
    # per-bucket Spark totals: {bucket: {"jobs": n, "cancelled": n,
    # "cancelled_cpu_s": x, <_stage_metrics keys>...}}
    spark: dict = field(default_factory=dict)
    proc_cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.read_s = 0.0  # time spent reading the status store
        self._sc = spark.sparkContext
        self._seq = 0
        self._next_job = 0
        self._seen_stages: set[int] = set()
        if enabled:
            self._store = self._sc._jsc.sc().statusStore()
            self._no_quantiles = self._sc._gateway.new_array(self._sc._gateway.jvm.double, 0)
            self._next_job = self._first_unknown_job(0)

    # -- spans --------------------------------------------------------------

    @contextmanager
    def call(self, name: str, trace: str):
        """Span around one benchmark call; yields the Span (None when off)."""
        if not self.enabled:
            yield None
            return
        self._seq += 1
        sp = Span(name, time.time(), 0.0, None, trace, len(self.spans))
        self.spans.append(sp)
        cpu0 = group_cpu_s()[0]
        self._sc.setJobGroup(f"pb-{self._seq}", name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._sc._jsc.clearJobGroup()
            sp.proc_cpu_s = group_cpu_s()[0] - cpu0
            self._attribute(sp)

    def child(self, parent: Span | None, name: str, start: float, end: float) -> None:
        if parent is None:
            return
        self.spans.append(Span(name, start, end, parent.sid, parent.trace, len(self.spans)))

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def self_time(self, sp: Span) -> float:
        return sp.wall - _union_len(
            [(max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp)]
        )

    # -- status store -------------------------------------------------------

    def _first_unknown_job(self, j: int) -> int:
        while True:
            try:
                self._store.job(j)
            except Exception:  # noqa: BLE001 — py4j NoSuchElementException: no such job yet
                return j
            j += 1

    def _attribute(self, sp: Span) -> None:
        """Read every job submitted since the last read (waiting up to
        SETTLE_S for running ones — cancelled speculation ends shortly
        after the call returns) and add its stages to ``sp``."""
        t0 = time.monotonic()
        while True:
            end = self._first_unknown_job(self._next_job)
            jobs = [self._store.job(j) for j in range(self._next_job, end)]
            running = [j for j in jobs if j.status().toString() == "RUNNING"]
            if not running or time.monotonic() - t0 > SETTLE_S:
                break
            time.sleep(0.05)
        for j in jobs:
            if j.status().toString() == "RUNNING":
                # still running after the settle wait: read it with the
                # next call rather than with partial metrics
                end = min(end, j.jobId())
        for j in jobs:
            if j.jobId() >= end:
                continue
            g = j.jobGroup()
            b = sp.spark.setdefault(bucket_of(g.get() if g.isDefined() else None), {})
            b["jobs"] = b.get("jobs", 0) + 1
            cancelled = j.status().toString() == "FAILED"
            b["cancelled"] = b.get("cancelled", 0) + int(cancelled)
            stage_cpu = 0.0
            sids = j.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                for m in self._stage_metrics(sid):
                    for k, v in m.items():
                        b[k] = b.get(k, 0) + v
                    stage_cpu += m["cpu_s"]
            if cancelled:
                b["cancelled_cpu_s"] = b.get("cancelled_cpu_s", 0.0) + stage_cpu
        self._next_job = end
        self.read_s += time.monotonic() - t0

    def _stage_metrics(self, sid: int) -> list[dict]:
        try:
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
        except Exception:  # noqa: BLE001 — stage evicted from the store
            return []
        out = []
        for k in range(attempts.size()):
            s = attempts.apply(k)
            out.append(
                {
                    "tasks": s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks(),
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "run_s": s.executorRunTime() / 1e3,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "input_records": s.inputRecords(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "output_bytes": s.outputBytes(),
                }
            )
        return out

    # -- reporting ----------------------------------------------------------

    def top(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def total(self, spans: list[Span], bucket: str | None, key: str) -> float:
        return sum(
            v.get(key, 0)
            for sp in spans
            for b, v in sp.spark.items()
            if bucket is None or b == bucket
        )

    def layer_table(self) -> list[str]:
        """Per span name: calls, wall and self time, and per top-level span
        whether the self times of its subtree add up to its wall."""
        spans = self.top()
        rows: dict[str, list[float]] = {}
        for sp in self.spans:
            r = rows.setdefault(sp.name, [0, 0.0, 0.0])
            r[0] += 1
            r[1] += sp.wall
            r[2] += self.self_time(sp)
        lines = [f"{'span':34s} {'calls':>5s} {'wall_s':>8s} {'self_s':>8s}"]
        for name, (n, wall, self_s) in sorted(rows.items(), key=lambda kv: -kv[1][2]):
            lines.append(f"{name:34s} {n:5d} {wall:8.3f} {self_s:8.3f}")
        lines.append("")
        lines.append(f"{'top-level span':34s} {'wall_s':>8s} {'sum_self':>8s} {'ratio':>6s}  gap")
        for sp in spans:
            sub = [sp] + self.children(sp)
            s = sum(self.self_time(x) for x in sub)
            ratio = s / sp.wall if sp.wall > 0 else 1.0
            gap = (
                "ok" if abs(ratio - 1) <= 0.10
                else "child stages overlap (they run concurrently)" if ratio > 1
                else "unattributed driver work / scheduling"
            )
            lines.append(f"{sp.name + ' ' + sp.trace:34s} {sp.wall:8.3f} {s:8.3f} {ratio:6.2f}  {gap}")
        buckets = [f"{'spark bucket':34s} {'jobs':>5s} {'tasks':>6s} {'cpu_s':>8s} {'cancelled_cpu_s':>15s}"]
        for b in BUCKETS:
            buckets.append(
                f"{b:34s} {int(self.total(spans, b, 'jobs')):5d} {int(self.total(spans, b, 'tasks')):6d} "
                f"{self.total(spans, b, 'cpu_s'):8.3f} {self.total(spans, b, 'cancelled_cpu_s'):15.3f}"
            )
        return lines + [""] + buckets

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "id": sp.sid, "name": sp.name, "start": sp.start,
                            "end": sp.end, "parent": sp.parent, "trace": sp.trace,
                            "spark": sp.spark, "proc_cpu_s": sp.proc_cpu_s,
                            "attrs": sp.attrs,
                        }
                    )
                    + "\n"
                )
