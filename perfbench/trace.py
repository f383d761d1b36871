"""Benchmark-side tracing: spans around the calls into each layer, a
py4j call counter and a reader for Spark's status store.

Spans are kept in memory (name, start, end, parent, run id, py4j calls
at start and end) and turned into per-layer numbers after each traced
repetition.  Spark jobs are attributed to the innermost span whose
interval contains the job's submission time; the status store is read
once per repetition, after the timed region.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    run_id: int
    calls0: int
    end: float = 0.0
    calls1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Used for every timed, untraced repetition: spans cost nothing."""

    enabled = False

    def span(self, name: str):
        return nullcontext()

    def enter(self, name: str) -> None:
        pass

    def exit(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark) -> None:
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.run_id = 0
        self.calls = 0
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command

    # -- py4j -------------------------------------------------------------

    def _counting_send(self, *args, **kwargs):
        self.calls += 1
        return self._send(*args, **kwargs)

    @contextmanager
    def counting(self):
        """Count every py4j round trip from Python to the JVM while active."""
        self._client.send_command = self._counting_send
        try:
            yield
        finally:
            del self._client.send_command

    # -- spans ------------------------------------------------------------

    def enter(self, name: str) -> None:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.time(), parent, self.run_id, self.calls))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)

    def exit(self) -> None:
        s = self.spans[self.stack.pop()]
        s.end = time.time()
        s.calls1 = self.calls

    @contextmanager
    def span(self, name: str):
        self.enter(name)
        try:
            yield
        finally:
            self.exit()

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "run": s.run_id}
            for s in self.spans
        ]


@contextmanager
def patched(owner, attr: str, tracer: Tracer, name: str):
    """Wrap ``owner.attr`` (a public function of a layer) in a span for
    the duration of one traced repetition."""
    orig = getattr(owner, attr)

    def wrapper(*a, **kw):
        with tracer.span(name):
            return orig(*a, **kw)

    setattr(owner, attr, wrapper)
    try:
        yield
    finally:
        setattr(owner, attr, orig)


class ProxySink:
    """A ``Sink`` that times each ``write`` call into the real sink."""

    def __init__(self, inner, tracer) -> None:
        self.inner = inner
        self.tracer = tracer

    def write(self, table, df) -> None:
        with self.tracer.span("sources.write"):
            self.inner.write(table, df)


# -- Spark status store ------------------------------------------------------


class StatusReader:
    """Jobs and stages from ``AppStatusStore``, serialized to JSON on the
    JVM side so one repetition costs two py4j round trips per list."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._om = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._om.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def read(self, since_ms: int, until_ms: int) -> tuple[list[dict], dict[int, list[dict]]]:
        """Jobs submitted in ``[since_ms, until_ms]``, and the executed
        attempts of their stages keyed by stage id."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = [
            j
            for j in json.loads(self._om.writeValueAsString(self._store.jobsList(None)))
            if since_ms <= (j.get("submissionTime") or 0) <= until_ms
        ]
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        stages: dict[int, list[dict]] = {}
        raw = self._store.stageList(None, False, False, self._no_quantiles, self._empty)
        for st in json.loads(self._om.writeValueAsString(raw)):
            if st["stageId"] not in wanted or st["status"] in ("SKIPPED", "PENDING"):
                continue
            stages.setdefault(st["stageId"], []).append(st)
        return jobs, stages


# -- interval arithmetic -----------------------------------------------------


def union(intervals):
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def subtract(base: tuple[float, float], holes) -> list[tuple[float, float]]:
    a, b = base
    out = []
    for ha, hb in union(holes):
        if hb <= a or ha >= b:
            continue
        if ha > a:
            out.append((a, ha))
        a = max(a, hb)
    if a < b:
        out.append((a, b))
    return out


def overlap(segments, covered) -> float:
    tot = 0.0
    for a, b in segments:
        for ca, cb in covered:
            tot += max(0.0, min(b, cb) - max(a, ca))
    return tot


# -- per-layer numbers of one traced repetition ------------------------------


def _median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def analyze(tracer: Tracer, root: int, jobs: list[dict], stages: dict[int, list[dict]], cores: int) -> dict:
    """Layer metrics of the repetition whose root span is ``root``."""
    spans = tracer.spans
    mine = range(root, len(spans))
    sec = 1e-3
    ivs = [
        (j["submissionTime"] * sec, (j.get("completionTime") or j["submissionTime"]) * sec)
        for j in jobs
    ]
    busy = union(ivs)

    # each job belongs to the innermost span open at its submission
    # (job times are whole milliseconds, hence the 1 ms tolerance)
    owner: dict[int, int] = {}
    for j in jobs:
        t = j["submissionTime"] * sec
        best = root
        for i in mine:
            s = spans[i]
            if s.start - sec <= t <= s.end + sec and s.start >= spans[best].start:
                best = i
        owner[j["jobId"]] = best

    # each executed stage counts once, for the first job that lists it
    stage_job: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            if sid in stages:
                stage_job.setdefault(sid, j["jobId"])

    def ancestors(i):
        while i is not None:
            yield i
            i = spans[i].parent

    def subtree_jobs(i):
        return [jid for jid, o in owner.items() if i in ancestors(o)]

    def self_jobs(i):
        return [jid for jid, o in owner.items() if o == i]

    def stage_sum(job_ids, key):
        ids = set(job_ids)
        return sum(a[key] for sid, jid in stage_job.items() if jid in ids for a in stages[sid])

    def segs(i):
        s = spans[i]
        return subtract((s.start, s.end), [(spans[c].start, spans[c].end) for c in s.children])

    def self_s(i):
        return sum(b - a for a, b in segs(i))

    def idle_s(i):
        g = segs(i)
        return sum(b - a for a, b in g) - overlap(g, busy)

    def self_calls(i):
        s = spans[i]
        return s.calls1 - s.calls0 - sum(spans[c].calls1 - spans[c].calls0 for c in s.children)

    named: dict[str, list[int]] = {}
    for i in mine:
        named.setdefault(spans[i].name, []).append(i)

    def of(name):
        return named.get(name, [])

    wall = spans[root].dur
    all_jobs = list(owner)
    run_s = stage_sum(all_jobs, "executorRunTime") * sec
    writes = of("sources.write")
    write_jobs = [j for i in writes for j in subtree_jobs(i)]
    chunks = of("streaming.chunk")
    fluent = of("fluent.build") + of("fluent.run")
    return {
        "fluent.build_s": sum(spans[i].dur for i in of("fluent.build")),
        "fluent.run_self_s": sum(self_s(i) for i in of("fluent.run")),
        "fluent.run_idle_s": sum(idle_s(i) for i in of("fluent.run")),
        "fluent.jobs": sum(len(self_jobs(i)) for i in of("fluent.run")),
        "fluent.py4j_calls": sum(self_calls(i) for i in fluent),
        "sources.write_s": sum(spans[i].dur for i in writes),
        "sources.write_idle_s": sum(idle_s(i) for i in writes),
        "sources.write_jobs": len(write_jobs),
        "sources.output_rows": stage_sum(write_jobs, "outputRecords"),
        "sources.output_bytes": stage_sum(write_jobs, "outputBytes"),
        "streaming.chunk_s": _median([spans[i].dur for i in chunks]),
        "streaming.chunk_jobs": _median([len(subtree_jobs(i)) for i in chunks]),
        "streaming.final_write_s": sum(
            spans[i].dur for i in writes if spans[spans[i].parent].name == "streaming.run"
        ),
        "operators.minhash_s": sum(spans[i].dur for i in of("operators.minhash")),
        "operators.lsh_s": sum(spans[i].dur for i in of("operators.lsh")),
        "operators.clusters_s": sum(spans[i].dur for i in of("operators.clusters")),
        "operators.clusters_jobs": sum(len(subtree_jobs(i)) for i in of("operators.clusters")),
        "spark.jobs": len(jobs),
        "spark.stages": len(stage_job),
        "spark.tasks": stage_sum(all_jobs, "numTasks"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": stage_sum(all_jobs, "executorCpuTime") * 1e-9,
        "spark.shuffle_read_bytes": stage_sum(all_jobs, "shuffleReadBytes"),
        "spark.shuffle_write_bytes": stage_sum(all_jobs, "shuffleWriteBytes"),
        "spark.spill_bytes": stage_sum(all_jobs, "diskBytesSpilled"),
        "spark.failed_tasks": stage_sum(all_jobs, "numFailedTasks"),
        "spark.core_busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
        "spark.single_task_stage_s": sec * sum(
            (a.get("completionTime") or 0) - (a.get("submissionTime") or 0)
            for sid in stage_job
            for a in stages[sid]
            if a["numTasks"] == 1 and a.get("completionTime") and a.get("submissionTime")
        ),
        "trace.wall_s": wall,
        "trace.span_coverage": 1.0 - self_s(root) / wall if wall > 0 else 0.0,
        "trace.unattributed_s": self_s(root),
        "trace.py4j_calls": spans[root].calls1 - spans[root].calls0,
    }
