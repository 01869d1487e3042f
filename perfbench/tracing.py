"""Tracing from outside the package: spans around public calls, Spark job
groups per span, and per-layer metrics read back from Spark's event log.

A layer is one public function, wrapped at the module attribute its
callers look up (``flows`` imports ``stage_then_merge`` by name, so the
wrapper goes on ``flows.stage_then_merge``). Each wrapped call opens a
span and sets ``spark.jobGroup.id`` on the calling thread, so every
Spark job the call fires carries the span's id into the event log.
Jobs submitted from threads the package starts itself carry no group;
they are attributed to the innermost span open on the benchmark's
driver thread when they were submitted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import asdict, dataclass

PKG = "prefect_flow_arc_kg_postgres_etl_spark"
GROUP_PROP = "spark.jobGroup.id"
GROUP_PREFIX = "pb-"

# (layer, [(module, attribute), ...]) — every attribute a caller of the
# layer resolves at call time.
LAYERS: list[tuple[str, list[tuple[str, str]]]] = [
    ("sparql.construct", [("operators.sparql", "construct_query")]),
    ("reference_pipeline.pivot", [("plans.reference_pipeline", "pivot_view_tables")]),
    ("reference_pipeline.index_documents",
     [("plans.reference_pipeline", "build_reference_index_documents")]),
    ("merge.upsert", [("operators.merge", "upsert")]),
    ("store.commit", [("sources.store", "commit_tables")]),
    ("store.read_snapshot", [("sources.store", "read_snapshot")]),
    ("catalog.load", [("flows", "load_table"), ("sources.catalog", "load_table")]),
    ("store.write", [("sources.store", "write_table")]),
    ("index_documents.build", [("flows", "build_index_documents")]),
    ("es_bulk.write", [("flows", "write_bulk_ndjson")]),
    ("jdbc.stage_then_merge", [("flows", "stage_then_merge")]),
    ("merge.clear_and_insert", [("operators.merge", "clear_and_insert")]),
    ("dedup.build_index", [("operators.dedup", "build_dedup_index")]),
    ("dedup.lsh_verified", [("operators.dedup", "lsh_verified_pairs")]),
    ("dedup.cluster", [("operators.dedup", "cluster_components")]),
    ("dedup.incremental_indexed", [("operators.dedup", "incremental_dup_pairs_indexed")]),
]
STAT_UNITS = {"build_s": "s", "exec_s": "s", "jobs": "count", "tasks": "count",
              "task_run_s": "s", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
LAYER_STATS = list(STAT_UNITS)
RATIOS = ["sparql.rows_read_per_triple", "store.write_amplification", "spark.core_util"]
STORE_LAYERS = ("store.write", "store.commit")


@dataclass
class Span:
    id: int
    name: str
    kind: str  # "phase", "call" (inside a wrapped function) or "exec" (forcing action)
    start: float
    end: float
    parent: int | None
    run_id: str
    main_thread: bool


class Tracer:
    """Records spans in memory; ``write`` dumps them when the run ends."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call"):
        stack = self._stack()
        with self._lock:
            sid = next(self._ids)
            # A span opened on a package thread hangs under whatever the
            # driver thread has open (the call that started the pool).
            parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        prev = self.sc.getLocalProperty(GROUP_PROP)
        self.sc.setLocalProperty(GROUP_PROP, f"{GROUP_PREFIX}{sid}")
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, prev)
            with self._lock:
                self.spans.append(
                    Span(sid, name, kind, start, end, parent, self.run_id,
                         threading.get_ident() == self._main)
                )

    def install(self) -> None:
        for layer, targets in LAYERS:
            for mod_name, attr in targets:
                mod = importlib.import_module(f"{PKG}.{mod_name}")
                orig = getattr(mod, attr)
                setattr(mod, attr, self._wrap(orig, layer))
                self._patched.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: str) -> list[str]:
    """Launch flags that turn on Spark's uncompressed JSON event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


@dataclass
class Task:
    group: str | None
    submitted: float  # seconds, submission time of the stage's job
    run_s: float
    records_read: int
    bytes_written: int
    records_written: int
    shuffle_bytes: int
    spill_bytes: int


@dataclass
class Job:
    group: str | None
    submitted: float


def read_event_log(log_dir: str) -> tuple[list[Job], list[Task]]:
    """Jobs and tasks from the single event log in ``log_dir``."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: list[Job] = []
    stage_job: dict[int, Job] = {}
    tasks: list[Task] = []
    with open(files[-1]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(props.get(GROUP_PROP), ev["Submission Time"] / 1000.0)
                jobs.append(job)
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    Task(
                        group=job.group if job else None,
                        submitted=job.submitted if job else info.get("Launch Time", 0) / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        records_read=(m.get("Input Metrics") or {}).get("Records Read", 0),
                        bytes_written=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        records_written=(m.get("Output Metrics") or {}).get("Records Written", 0),
                        shuffle_bytes=sw.get("Shuffle Bytes Written", 0),
                        spill_bytes=m.get("Disk Bytes Spilled", 0),
                    )
                )
    return jobs, tasks


def _attribute(group: str | None, submitted: float, by_id: dict[int, Span],
               main_spans: list[Span]) -> Span | None:
    """The span a job belongs to: its job group's span when the job was
    submitted inside that span, else the innermost driver-thread span
    open at submission."""
    if group and group.startswith(GROUP_PREFIX):
        s = by_id.get(int(group[len(GROUP_PREFIX):]))
        if s is not None and s.start <= submitted <= s.end:
            return s
    best = None
    for s in main_spans:
        if s.start <= submitted <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


# The phases the per-layer metrics cover: one nightly cycle.
CYCLE = ("phase.cold_full", "phase.incremental")


def layer_metrics(spans: list[Span], jobs: list[Job], tasks: list[Task], cores: int,
                  changed_source_bytes: int) -> dict[str, float]:
    """Every per-layer metric for one nightly cycle: the cold full phase
    plus the median incremental phase (warm full phases of later cycles
    are left out), keyed ``<layer>.<stat>``, plus the three ratios.

    ``build_s`` is the self time of the layer's calls (span minus the
    part its child spans cover); ``exec_s`` is the benchmark's own
    forcing action on a returned frame. Jobs, tasks and their metrics go
    to the span the job was attributed to; work outside every layer
    (the flows' own counts, for instance) only enters the ratios."""
    by_id = {s.id: s for s in spans}
    main_spans = [s for s in spans if s.main_thread]
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    phases = [s for s in spans if s.kind == "phase" and s.name in CYCLE]

    def phase_of(t: float) -> Span | None:
        return next((p for p in phases if p.start <= t <= p.end), None)

    per_phase = {p.id: {(l, st): 0.0 for l, _ in LAYERS for st in LAYER_STATS} for p in phases}
    for s in spans:
        p = phase_of(s.start)
        if p is None or s.kind == "phase":
            continue
        if s.kind == "exec":
            per_phase[p.id][(s.name, "exec_s")] += s.end - s.start
        else:
            per_phase[p.id][(s.name, "build_s")] += (
                s.end - s.start - _covered(s, children.get(s.id, []))
            )
    for j in jobs:
        p = phase_of(j.submitted)
        owner = _attribute(j.group, j.submitted, by_id, main_spans)
        if p is not None and owner is not None and owner.kind != "phase":
            per_phase[p.id][(owner.name, "jobs")] += 1
    read_sparql = written_sparql = store_inc = 0
    run_total = 0.0
    for t in tasks:
        p = phase_of(t.submitted)
        if p is None:
            continue
        run_total += t.run_s
        owner = _attribute(t.group, t.submitted, by_id, main_spans)
        if owner is None or owner.kind == "phase":
            continue
        acc = per_phase[p.id]
        acc[(owner.name, "tasks")] += 1
        acc[(owner.name, "task_run_s")] += t.run_s
        acc[(owner.name, "shuffle_bytes")] += t.shuffle_bytes
        acc[(owner.name, "spill_bytes")] += t.spill_bytes
        if owner.name == "sparql.construct":
            read_sparql += t.records_read
            if owner.kind == "exec":
                written_sparql += t.records_written
        if owner.name in STORE_LAYERS and p.name == "phase.incremental":
            store_inc += t.bytes_written

    out: dict[str, float] = {}
    for key in (per_phase[phases[0].id] if phases else {}):
        out[f"{key[0]}.{key[1]}"] = sum(
            statistics.median([per_phase[p.id][key] for p in phases if p.name == name] or [0.0])
            for name in CYCLE
        )
    n_inc = sum(1 for p in phases if p.name == "phase.incremental")
    wall = sum(p.end - p.start for p in phases)
    out["sparql.rows_read_per_triple"] = read_sparql / written_sparql if written_sparql else 0.0
    out["store.write_amplification"] = (
        store_inc / (changed_source_bytes * n_inc) if changed_source_bytes and n_inc else 0.0
    )
    out["spark.core_util"] = run_total / (wall * cores) if wall else 0.0
    return out


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the part of ``span`` that its child spans cover."""
    ivs = sorted((max(k.start, span.start), min(k.end, span.end)) for k in kids)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    out = {f"{l}.{st}": STAT_UNITS[st] for l, _ in LAYERS for st in LAYER_STATS}
    out.update({r: "ratio" for r in RATIOS})
    out["trace.overhead"] = "ratio"
    return out
