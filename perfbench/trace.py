"""Spans recorded from outside the program, and Spark's event log folded
onto them.

``Tracer.install`` rebinds the public functions of each layer in the
module namespaces that call them (``kgforge.pipeline.run`` and
``kgforge.sinks.materialize``). Each wrapper records a span (name, start,
end, parent, run id), tags every Spark job submitted inside it with
``sc.setJobDescription``, and passes arguments and results through
unchanged. Spans stay in memory; ``fold_event_log`` later attributes each
job of the uncompressed event log to its innermost span.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import dataclass, field

TAG = "perfbench-span:"


def _write_stage_name(args, kwargs) -> str:
    return "write_stage:" + (kwargs["stage"] if "stage" in kwargs else args[2])


# (module, attribute, span-name function of the call's args/kwargs)
TRACED = [
    ("kgforge.pipeline.run", "write_stage", _write_stage_name),
    ("kgforge.pipeline.run", "materialize_spo", None),
    ("kgforge.pipeline.run", "canonicalize_entities", None),
    ("kgforge.pipeline.run", "validate_triples", None),
    ("kgforge.pipeline.run", "dedup_pages", None),
    ("kgforge.pipeline.run", "constraint_reports", None),
    ("kgforge.sinks.materialize", "write_stage", _write_stage_name),
    ("kgforge.sinks.materialize", "write_file_stats", None),
]


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    events: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.run_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobDescription(f"{TAG}{s.id}:{name}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobDescription(
                f"{TAG}{parent.id}:{parent.name}" if parent else None
            )

    def wrap(self, fn, namer):
        def traced(*args, **kwargs):
            with self.span(namer(args, kwargs) if namer else fn.__name__):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    @contextlib.contextmanager
    def install(self):
        import importlib

        saved = []
        try:
            for mod_name, attr, namer in TRACED:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(orig, namer))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_seconds(self, s: Span) -> float:
        """Span duration minus the part its direct children cover."""
        covered, last = 0.0, s.start
        for c in sorted(self.children(s), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return s.seconds - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


_ZERO = {
    "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "python_s": 0.0,
    "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0, "tasks": 0,
    "lineage_s": 0.0,
}


def _writes_lineage(node: dict) -> bool:
    """Does this SQL plan write a ``<stage>_lineage`` table?"""
    if "InsertIntoHadoopFsRelationCommand" in node.get("nodeName", "") and (
        "_lineage," in node.get("simpleString", "")
    ):
        return True
    return any(_writes_lineage(c) for c in node.get("children", []))


def fold_event_log(path: str, tracer: Tracer) -> None:
    """Attribute every task of the event log at ``path`` to the innermost
    span whose tag its job carries; fill each span's ``events`` with its
    own totals (``self``) and those of its whole subtree (``total``)."""
    job_span: dict[int, int] = {}
    job_exec: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_secs: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    lineage_execs: set[str] = set()
    per: dict[int, dict] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = {}

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                if not desc.startswith(TAG):
                    continue
                jid = e["Job ID"]
                job_span[jid] = int(desc[len(TAG):].split(":", 1)[0])
                job_exec[jid] = (e.get("Properties") or {}).get("spark.sql.execution.id")
                job_start[jid] = e["Submission Time"] / 1000.0
                for sid in e["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
                job_secs[e["Job ID"]] = e["Completion Time"] / 1000.0 - job_start[e["Job ID"]]
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if _writes_lineage(e.get("sparkPlanInfo") or {}):
                    lineage_execs.add(str(e["executionId"]))
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                if jid is None or "Task Metrics" not in e:
                    continue
                sp = job_span[jid]
                acc = per.setdefault(sp, dict(_ZERO))
                tm, ti = e["Task Metrics"], e["Task Info"]
                acc["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                acc["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                sr = tm.get("Shuffle Read Metrics", {})
                acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                acc["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                acc["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                acc["tasks"] += 1
                for a in ti.get("Accumulables", []):
                    if a.get("Name") == "time to run Python workers":
                        acc["python_s"] += int(a.get("Update", 0)) / 1000.0
                stage_tasks.setdefault((sp, e["Stage ID"]), []).append(
                    (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                )

    for jid, sp in job_span.items():
        if str(job_exec.get(jid)) in lineage_execs:
            per.setdefault(sp, dict(_ZERO))["lineage_s"] += job_secs.get(jid, 0.0)
    skews: dict[int, list[float]] = {}
    for (sp, _stage), durs in stage_tasks.items():
        if len(durs) >= 2:
            med = statistics.median(durs)
            skews.setdefault(sp, []).append(max(durs) / med if med > 0 else 1.0)

    for s in tracer.spans:
        own = per.get(s.id, dict(_ZERO))
        total = dict(_ZERO)
        sk = []
        for d in tracer.subtree(s):
            for k, v in per.get(d.id, {}).items():
                total[k] += v
            sk += skews.get(d.id, [])
        # skew of the span = its worst Spark stage (max/median task time)
        total["task_skew"] = max(sk) if sk else 1.0
        s.events = {"self": own, "total": total}
