"""Process-tree CPU, benchmark-side spans and Spark event-log attribution.

Everything here is measured from outside the engine: spans are opened
by the benchmark around each call it makes into a package layer, and
the Spark work inside a span is read back from Spark's own event log.

Attribution of a Spark job to a span:

1. by tag — while a span is open the client thread carries the local
   property ``perfbench.span``; Spark copies it into the job's
   properties, so the job names its span exactly;
2. by time — a job submitted from a thread the engine starts itself
   (the property is per thread) carries no tag; one client runs one
   call at a time, so the open span at the job's submission time is
   the call that caused it.

A job that matches neither is reported as unattributed.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
SPAN_PROP = "perfbench.span"
# event-log times are whole milliseconds, span times are floats
_CLOCK_SLACK_S = 0.002


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # comm may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + int(_stat_fields(os.getpid())[19]) / CLK_TCK


def tree_ticks(root: int | None = None) -> dict[int, int]:
    """CPU ticks (user + system, plus reaped children's) of ``root`` and
    each live descendant: the Python client, the JVM it launched and
    the JVM's Python workers."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        pid = int(name)
        children.setdefault(int(f[1]), []).append(pid)
        ticks[pid] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        out[pid] = ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return out


def cpu_between(before: dict[int, int], after: dict[int, int]) -> float:
    """CPU seconds the tree spent between two snapshots. A process that
    exits in between takes its time with it (the worker daemon does not
    reap its children into cutime), so the sum runs over processes alive
    at the end: a worker that dies mid-span is undercounted, never
    negative."""
    return sum(max(t - before.get(p, 0), 0) for p, t in after.items()) / CLK_TCK


@dataclass
class Span:
    sid: int
    name: str  # "<layer>.<call>", e.g. "plans.search_topk"
    role: str  # "setup" or "timed"
    t0: float
    t_plan: float = 0.0  # when the call returned its (lazy) result
    t1: float = 0.0
    cpu_s: float = 0.0
    ticks0: dict = field(default_factory=dict, repr=False)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """Records spans; with ``sc`` set (traced runs) also tags the Spark
    jobs each span launches. Untraced runs keep spans for timing only."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)

    def open(self, name: str, role: str) -> Span:
        sp = Span(len(self.spans), name, role, time.time())
        sp.ticks0 = tree_ticks()
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sp.sid))
        sp.t0 = time.time()
        return sp

    def planned(self, sp: Span) -> None:
        sp.t_plan = time.time()

    def close(self, sp: Span) -> Span:
        sp.t1 = time.time()
        if not sp.t_plan:
            sp.t_plan = sp.t1
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, None)
        sp.cpu_s = cpu_between(sp.ticks0, tree_ticks())
        sp.ticks0 = {}
        self.spans.append(sp)
        return sp

    def call(self, name: str, role: str, fn, *args, collect: bool = True, **kwargs):
        """Run ``fn`` in a span; with ``collect`` a DataFrame result is
        collected inside it, so the span covers planning AND execution."""
        sp = self.open(name, role)
        out = fn(*args, **kwargs)
        self.planned(sp)
        if collect and hasattr(out, "collect") and hasattr(out, "schema"):
            out = out.collect()
        self.close(sp)
        return out, sp


# -- event log --------------------------------------------------------------

PYTHON_IO_METRICS = ("data sent to Python workers", "data returned from Python workers")


def _event_files(log_dir: str) -> list[str]:
    """Uncompressed event-log files in write order: a single file, or a
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` parts."""
    out = []
    for d, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("events_"):
                out.append((os.path.basename(d), int(n.split("_")[1]), os.path.join(d, n)))
            elif not n.startswith((".", "appstatus")) and d == log_dir:
                out.append((n, 0, os.path.join(d, n)))
    return [p for *_, p in sorted(out)]


def read_event_log(log_dir: str) -> dict:
    """Every job of the log: its span tag, interval and task totals."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    tag = (ev.get("Properties") or {}).get(SPAN_PROP)
                    jobs[jid] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "tag": int(tag) if tag not in (None, "") else None,
                        "tasks": 0,
                        "cpu_s": 0.0,
                        "shuffle_b": 0,
                        "pyio_b": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid is None:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    j["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shuffle_b"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in PYTHON_IO_METRICS:
                            j["pyio_b"] += int(acc.get("Update") or 0)
    return jobs


def attribute(spans: list[Span], jobs: dict) -> tuple[dict[int, list[dict]], int]:
    """Jobs per span id, and the number of jobs no span explains."""
    by_span: dict[int, list[dict]] = {sp.sid: [] for sp in spans}
    ordered = sorted(spans, key=lambda s: s.t0)
    unattributed = 0
    for j in jobs.values():
        if j["tag"] is not None and j["tag"] in by_span:
            by_span[j["tag"]].append(j)
            continue
        owner = next(
            (
                s
                for s in ordered
                if s.t0 - _CLOCK_SLACK_S <= j["t0"] <= s.t1 + _CLOCK_SLACK_S
            ),
            None,
        )
        if owner is None:
            unattributed += 1
        else:
            by_span[owner.sid].append(j)
    return by_span, unattributed


def _busy_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    busy, cur0, cur1 = 0.0, None, None
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in intervals):
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                busy += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        busy += cur1 - cur0
    return busy


COUNTERS = (
    "wall_s",
    "plan_s",
    "jobs",
    "tasks",
    "driver_gap_s",
    "executor_cpu_s",
    "shuffle_mb",
    "python_io_mb",
)


def span_counters(sp: Span, jobs: list[dict]) -> dict[str, float]:
    wall = sp.t1 - sp.t0
    ivs = [(j["t0"], j["t1"] if j["t1"] is not None else sp.t1) for j in jobs]
    return {
        "wall_s": wall,
        "plan_s": sp.t_plan - sp.t0,
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "driver_gap_s": max(wall - _busy_s(ivs, sp.t0, sp.t1), 0.0),
        "executor_cpu_s": sum(j["cpu_s"] for j in jobs),
        "shuffle_mb": sum(j["shuffle_b"] for j in jobs) / 1e6,
        "python_io_mb": sum(j["pyio_b"] for j in jobs) / 1e6,
    }
