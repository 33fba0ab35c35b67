"""Tracing for the benchmark's traced run, recorded from outside the engine.

Three sources, joined per operation:

* driver spans -- one root span per timed operation plus a child span for
  every call into a wrapped public engine function (the wrappers are
  installed on the module or class attribute only while tracing);
* Spark's event log -- jobs carry the operation's job group
  (``spark.jobGroup.id``), so their submit/completion times become spans
  under the operation and their task metrics (Python worker start, init
  and run times, Arrow bytes sent to and returned from Python, shuffle and
  output bytes) are attributed to it;
* the status tracker -- job, stage and task counts by job group.

Spans stay in memory; the report is built once after the run.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass, field

# job-group prefix of timed operations: "pb-<op index>-<kind>"
GROUP_PREFIX = "pb-"

# task-level metrics summed per stage, by event-log accumulable name
_SQL_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


@dataclass
class Tracer:
    """Span recorder. Disabled tracers record nothing and install nothing."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    counters: dict = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)
    _suspended: bool = False

    # -- spans --------------------------------------------------------------

    def begin(self, name: str, layer: str, op: int | None = None) -> int | None:
        if not self.enabled or self._suspended:
            return None
        if op is None and not self._stack:
            return None  # engine calls outside a timed operation
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent].op
        self.spans.append(Span(name, layer, time.time(), parent=parent, op=op))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.time()
        self._stack.pop()

    def count(self, key: str, n: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    # -- wrappers -----------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, post=None) -> None:
        """Replace ``owner.attr`` by a timing wrapper; ``post(result, args)``
        runs after the span closes, with recording suspended."""
        orig = getattr(owner, attr)
        name = f"{layer}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = self.begin(name, layer)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.end(idx)
            if idx is not None and post is not None:
                self._suspended = True
                try:
                    post(result, args)
                finally:
                    self._suspended = False
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install_engine_wrappers(self) -> None:
        if not self.enabled:
            return
        from embulk_output_s3_parquet_spark import jobs
        from embulk_output_s3_parquet_spark.operators import decode
        from embulk_output_s3_parquet_spark.plans import partitioning
        from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

        for attr in ("encode_job", "decode_job", "count_job", "delete_job",
                     "update_job", "merge_job", "rewrite_small_parts"):
            self.wrap(jobs, attr, "jobs")

        def planned(result, _args):
            self.count("plans.calls", 1)
            self.count("plans.parts", result[1].n_parts)

        # jobs.py binds the planners by name at import time
        for attr in ("assign_partitions", "assign_partitions_generic"):
            self.wrap(jobs, attr, "plans", post=planned)
        self.wrap(partitioning, "assign_partitions_bucketed", "plans", post=planned)
        for attr in ("encode_local", "encode_grouped"):
            self.wrap(jobs, attr, "operators")
        self.wrap(decode, "decode_table_scan", "operators")

        def admitted(result, args):
            self.count("tables.parts_admitted", len(result))
            self.count("tables.parts_considered", len(args[0].completed_parts()))

        self.wrap(EncodedTable, "commit_staging", "tables")
        self.wrap(EncodedTable, "manifest", "tables")
        self.wrap(EncodedTable, "pruned_part_dirs", "tables")
        self.wrap(EncodedTable, "surviving_parts", "tables", post=admitted)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


def tracing_overhead(plain: list, traced: list) -> tuple[float, float]:
    """Summed traced-minus-untraced wall over the operations both passes made.

    The traced pass replays the untraced pass's operations, so the n-th
    operation of a kind is the same operation in both; pairing them op by op
    cancels the differences between operations. Returns
    ``(overhead_s, untraced_s)`` over the matched pairs."""
    by_kind: dict[str, list[float]] = {}
    for kind, wall in plain:
        by_kind.setdefault(kind, []).append(wall)
    seen: dict[str, int] = {}
    over = base = 0.0
    for kind, wall in traced:
        n = seen.get(kind, 0)
        seen[kind] = n + 1
        if n < len(by_kind.get(kind, ())):
            over += wall - by_kind[kind][n]
            base += by_kind[kind][n]
    return over, base


# -- event log -----------------------------------------------------------------


def parse_event_log(lines) -> tuple[dict, dict]:
    """Fold Spark event-log JSON lines into ``(jobs, stages)``.

    ``jobs[id] = {"group", "submit", "end", "stages"}`` (times in seconds);
    ``stages[id]`` holds the task count and per-stage sums of the Python
    worker metrics, shuffle bytes written and output bytes written."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {"tasks": 0, "shuffle_write_bytes": 0, "output_bytes": 0,
             **{v: 0 for v in _SQL_METRICS.values()}},
        )

    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e.get("Stage IDs", [])),
            }
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = stage(e["Stage ID"])
            st["tasks"] += 1
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                key = _SQL_METRICS.get(acc.get("Name"))
                if key is not None:
                    st[key] += int(acc.get("Update") or 0)
            tm = e.get("Task Metrics") or {}
            st["shuffle_write_bytes"] += int(
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            st["output_bytes"] += int(
                (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            )
    return jobs, stages


def op_of_group(group: str | None) -> int | None:
    if not group or not group.startswith(GROUP_PREFIX):
        return None
    try:
        return int(group[len(GROUP_PREFIX):].split("-", 1)[0])
    except ValueError:
        return None


def job_spans(tracer: Tracer, jobs: dict) -> None:
    """Add each tagged Spark job as a span under the innermost driver span
    of its operation that was open when the job was submitted."""
    by_op: dict[int, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        by_op.setdefault(s.op, []).append(i)
    for job in sorted(jobs.values(), key=lambda j: j["submit"]):
        op = op_of_group(job["group"])
        if op is None or op not in by_op or job["end"] is None:
            continue
        parent = None
        for i in by_op[op]:
            s = tracer.spans[i]
            if s.start <= job["submit"] <= s.end:
                if parent is None or s.start >= tracer.spans[parent].start:
                    parent = i
        if parent is None:
            parent = by_op[op][0]
        tracer.spans.append(
            Span("spark.job", "spark_jobs", job["submit"], job["end"], parent, op)
        )


def interval_union(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: sum over its spans of duration minus the part of the
    span's interval that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            children.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered = interval_union([iv for iv in children.get(i, []) if iv[1] > iv[0]])
        out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
    return out


def outermost_total(spans: list[Span], names: set[str]) -> float:
    """Total duration of spans named in ``names`` that have no ancestor
    named in ``names`` (nested calls are counted once)."""
    total = 0.0
    for s in spans:
        if s.name not in names:
            continue
        p, nested = s.parent, False
        while p is not None:
            if spans[p].name in names:
                nested = True
                break
            p = spans[p].parent
        if not nested:
            total += s.end - s.start
    return total
