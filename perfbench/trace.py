"""In-memory tracing for the benchmark's traced run.

Spans are recorded by the benchmark's own code around the calls it makes
into each layer's public functions (a wrapper installed on the module
attribute, so calls the engine makes internally through that attribute are
seen too).  Counts come from two places:

* a counting wrapper on the py4j gateway client's ``send_command``: every
  driver-to-JVM round trip;
* Spark's event log, enabled for the traced run only.  Spark jobs are
  attributed to spans by time window, not job group, because the engine
  launches some actions from its own threads where a job group set here
  would not reach.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    py4j: int = 0  # inclusive gateway round trips

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """Spans and counters for one run; written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.py4j_calls = 0
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sp = Span(name, time.time(), parent=stack[-1] if stack else self._op_span(),
                  op=self.op)
        p0 = self.py4j_calls
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.time()
            sp.py4j = self.py4j_calls - p0

    def _op_span(self) -> int | None:
        """Spans opened on an engine thread hang off the open op span."""
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i].name == "bench.op" and self.spans[i].end == 0.0:
                return i
        return None

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # -- py4j -------------------------------------------------------------
    def count_py4j(self, spark) -> None:
        """Count gateway round trips the code asks for.  Release commands,
        which py4j sends whenever Python's GC frees a proxy, are left out:
        their number depends on GC timing, not on the code."""
        from py4j.protocol import MEMORY_COMMAND_NAME

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(MEMORY_COMMAND_NAME):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    # -- derived ----------------------------------------------------------
    def self_ms(self, spans: list[Span]) -> dict[str, float]:
        """Per-layer self time summed over ``spans``: each span's duration
        minus the part of it that its child spans cover (children merged as
        intervals)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                children[sp.parent].append(sp)
        keep = {id(s) for s in spans}
        out: dict[str, float] = defaultdict(float)
        for i, sp in enumerate(self.spans):
            if id(sp) not in keep:
                continue
            covered = 0.0
            lo = hi = None
            for c in sorted(children[i], key=lambda s: s.start):
                s, e = max(c.start, sp.start), min(c.end, sp.end)
                if e <= s:
                    continue
                if hi is None or s > hi:
                    if hi is not None:
                        covered += hi - lo
                    lo, hi = s, e
                else:
                    hi = max(hi, e)
            if hi is not None:
                covered += hi - lo
            out[sp.layer] += (sp.end - sp.start - covered) * 1e3
        return dict(out)

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "py4j": s.py4j}
            for s in self.spans
        ]


# -- Spark event log --------------------------------------------------------

@dataclass
class SparkJob:
    job_id: int
    submitted: float  # epoch seconds
    stage_ids: list[int]
    metrics: dict[str, float] = field(default_factory=lambda: defaultdict(float))


def _python_udf_ms(accumulables: list[dict]) -> float:
    """Python UDF evaluation time, summed over a stage's tasks: the SQL
    metric "time to run Python workers" of the Arrow/pandas UDF operators
    (worker start and initialisation are separate metrics, left out)."""
    return sum(float(acc.get("Value", 0)) for acc in accumulables
               if acc.get("Name") == "time to run Python workers")


def _event_lines(log_dir: str):
    """Lines of the run's event log: a single file, or the numbered
    ``events_<n>_*`` files of a rolling (v2) log directory."""
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        files = [entry]
        if os.path.isdir(entry):
            files = sorted(glob.glob(os.path.join(entry, "events_*")),
                           key=lambda f: int(os.path.basename(f).split("_")[1]))
        for name in files:
            with open(name) as fh:
                yield from fh


def read_event_log(log_dir: str) -> list[SparkJob]:
    """Jobs with their stage and task totals from a finished event log."""
    jobs: dict[int, SparkJob] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job = SparkJob(ev["Job ID"], ev["Submission Time"] / 1e3, ev["Stage IDs"])
            jobs[job.job_id] = job
            for sid in job.stage_ids:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None and "Completion Time" in info:
                job.metrics["stages"] += 1
                job.metrics["python_udf_ms"] += _python_udf_ms(info.get("Accumulables", []))
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            m = job.metrics
            m["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["tasks_failed"] += 1
            tm = ev.get("Task Metrics") or {}
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    return sorted(jobs.values(), key=lambda j: j.submitted)


def jobs_within(jobs: list[SparkJob], start: float, end: float) -> list[SparkJob]:
    return [j for j in jobs if start <= j.submitted <= end]
