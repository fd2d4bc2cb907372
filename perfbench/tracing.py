"""Tracing for the traced (``--trace 1``) benchmark run, kept outside the
package: spans recorded around calls into the engine's modules, Spark's
event log parsed after the session stops, and Python-worker CPU read
from ``/proc``.

Nothing here is imported into the package; the spans are installed by
replacing module and class attributes for the length of one run and are
removed again by ``Tracer.uninstall``.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------------
# spans
# ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at top level
    op: int | None  # index of the enclosing benchmark operation
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans carry (name, start, end, parent,
    run id); ``op`` names the benchmark operation (one query, batch,
    build or refresh cycle) they ran under, so per-operation layer sums
    need no time-window matching."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self._op, attrs)
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextmanager
    def op(self, op_id: int, name: str, **attrs):
        """Top-level span for one benchmark operation."""
        prev = self._op
        self._op = op_id
        try:
            with self.span(name, op_id=op_id, **attrs) as sp:
                yield sp
        finally:
            self._op = prev

    # -- installing spans around module entry points ---------------------

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.
        ``before(args)`` returns attrs recorded at entry; ``after(args,
        attrs)`` may add attrs at exit (both see the call's arguments)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kw):
            attrs = before(args) if before else {}
            with tracer.span(name, **attrs) as sp:
                try:
                    return orig(*args, **kw)
                finally:
                    if after:
                        after(args, sp.attrs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def install_engine_spans(self) -> None:
        """Spans at the query-side layer boundaries (module names)."""
        from text_indexing_and_retrieval_system_spark import engine
        from text_indexing_and_retrieval_system_spark.functions import codec, normalize
        from text_indexing_and_retrieval_system_spark.operators import query_parser, wand

        ix = engine.InvertedIndex
        self.wrap(query_parser, "parse", "query_parser.parse")
        # engine binds normalize_query_terms at import; search_batch
        # imports prime_query_norm_cache at call time
        self.wrap(engine, "normalize_query_terms", "normalize.query_terms")
        self.wrap(normalize, "prime_query_norm_cache", "normalize.query_terms")
        self.wrap(
            ix, "lexicon_for", "engine.lexicon",
            before=lambda a: {"cold": a[0]._full_lex is None},
        )

        def cache_before(a):
            self_, tokens = a[0], a[1]
            with_pos = a[2] if len(a) > 2 else False
            keys = set(self_._block_cache)
            hits = sum((t, with_pos) in keys for t in tokens)
            return {"hits": hits, "lookups": len(tokens), "_keys": keys}

        def cache_after(a, attrs):
            after_keys = set(a[0]._block_cache)
            attrs["evictions"] = len(attrs.pop("_keys") - after_keys)
            attrs["bytes"] = a[0]._block_cache_bytes

        self.wrap(ix, "_blocks_pdf_for", "engine.block_fetch", cache_before, cache_after)
        self.wrap(
            ix, "_maybe_bulk_load_blocks", "engine.preload",
            before=lambda a: {"cold": a[0]._bulk_blocks is None},
        )
        self.wrap(
            ix, "_doc_ids_for", "engine.id_resolution",
            before=lambda a: {"cold": a[0]._convmap is None},
        )
        self.wrap(ix, "_search_wand_driver_rows", "engine.path.driver_wand")
        self.wrap(ix, "_search_kernel_driver_rows", "engine.path.driver_kernel")
        self.wrap(wand, "topk_disjunctive", "engine.path.distributed")
        self.wrap(wand, "boolean_topk", "engine.path.distributed")
        self.wrap(wand, "score_bucket_pruned", "wand.kernel")
        self.wrap(wand, "boolean_score_bucket", "wand.kernel")
        self.wrap(codec, "unpack_postings", "codec.decode")
        self.wrap(codec, "unpack_postings_batch", "codec.decode")

    # -- reading back ----------------------------------------------------

    def by_op(self, name: str) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.name == name and sp.op is not None:
                out.setdefault(sp.op, []).append(sp)
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                rec = {
                    "run_id": self.run_id,
                    "id": i,
                    "name": sp.name,
                    "start": sp.start,
                    "end": sp.end,
                    "parent": sp.parent,
                    "op": sp.op,
                    "attrs": {k: v for k, v in sp.attrs.items() if not k.startswith("_")},
                }
                f.write(json.dumps(rec, default=str) + "\n")


def op_sum_ms(tracer: Tracer, name: str, ops: list[int]) -> float:
    """Mean per operation of the total time spent in spans ``name``
    (outermost occurrences only, so recursion-free nesting is not
    double-counted)."""
    if not ops:
        return 0.0
    got = tracer.by_op(name)
    total = 0.0
    for op in ops:
        spans = got.get(op, [])
        ids = {id(s) for s in spans}
        for s in spans:
            parent = tracer.spans[s.parent] if s.parent is not None else None
            if parent is not None and id(parent) in ids:
                continue
            total += s.end - s.start
    return 1000.0 * total / len(ops)


# ----------------------------------------------------------------------
# Python worker CPU from /proc
# ----------------------------------------------------------------------


def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _proc_children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu_s() -> float:
    """CPU seconds (user + system, own + reaped children) of every Python
    process below this driver: the PySpark daemon and its forked workers.
    The JVM is excluded — the event log's executor CPU covers its task
    threads. A worker that exits is reaped by the daemon, so its time
    moves into the daemon's child counters and the sum stays monotone."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        if not comm.startswith("python"):
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


# ----------------------------------------------------------------------
# Spark event log
# ----------------------------------------------------------------------

# the formatted plan lists the write node's output path on its Arguments line
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand\s*\n(?:.*\n)*?Arguments: (?:file:)?([^,\s]+),")


@dataclass
class Task:
    stage: int
    run_ms: int
    cpu_ns: int
    shuffle_bytes: int
    output_bytes: int


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    group: str | None
    execution: int | None
    stages: list[int]
    tasks: list[Task] = field(default_factory=list)


class EventLog:
    """Jobs, their tasks and the SQL executions they belong to, from one
    application's event log (plain JSON lines)."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.write_path: dict[int, str] = {}  # execution id -> output dir
        self.root_exec: dict[int, int] = {}
        stage_job: dict[int, int] = {}
        tasks: list[Task] = []
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    job = Job(
                        ev["Job ID"],
                        ev.get("Submission Time", 0),
                        props.get("spark.jobGroup.id"),
                        int(ex) if ex is not None else None,
                        list(ev.get("Stage IDs", [])),
                    )
                    self.jobs[job.job_id] = job
                    for s in job.stages:
                        stage_job.setdefault(s, job.job_id)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.append(
                        Task(
                            ev["Stage ID"],
                            int(m.get("Executor Run Time", 0)),
                            int(m.get("Executor CPU Time", 0)),
                            int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
                            int((m.get("Output Metrics") or {}).get("Bytes Written", 0)),
                        )
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    ex = int(ev["executionId"])
                    root = ev.get("rootExecutionId")
                    if root is not None:
                        self.root_exec[ex] = int(root)
                    hit = _WRITE_PATH.search(ev.get("physicalPlanDescription") or "")
                    if hit:
                        self.write_path[ex] = hit.group(1)
        for t in tasks:
            job = stage_job.get(t.stage)
            if job is not None:
                self.jobs[job].tasks.append(t)

    def output_dir(self, job: Job) -> str | None:
        ex = job.execution
        seen = set()
        while ex is not None and ex not in seen:
            if ex in self.write_path:
                return self.write_path[ex]
            seen.add(ex)
            ex = self.root_exec.get(ex)
        return None

    def jobs_in_group(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]

    def jobs_between(self, t0: float, t1: float) -> list[Job]:
        """Jobs submitted in [t0, t1] (seconds since the epoch)."""
        lo, hi = t0 * 1000.0, t1 * 1000.0
        return [j for j in self.jobs.values() if lo <= j.submitted_ms <= hi]


def find_event_log(log_dir: str) -> str | None:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".")
    ] if os.path.isdir(log_dir) else []
    return max(files, key=os.path.getmtime) if files else None


def task_totals(jobs: list[Job]) -> dict[str, float]:
    tasks = [t for j in jobs for t in j.tasks]
    return {
        "tasks": len(tasks),
        "task_s": sum(t.run_ms for t in tasks) / 1000.0,
        "task_max_s": max((t.run_ms for t in tasks), default=0) / 1000.0,
        "jvm_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "shuffle_bytes": sum(t.shuffle_bytes for t in tasks),
        "bytes_written": sum(t.output_bytes for t in tasks),
    }
