"""Per-layer metrics of the traced run, named after the engine's modules.

Which end-to-end figure each layer metric should move is recorded in
``perfbench/METRICS.md``. Every metric is printed in every
traced run; a layer a workload does not reach reads 0.
"""

from __future__ import annotations

import glob
import os
import time

from .stats import median
from .trace import (
    Tracer,
    interval_union,
    job_spans,
    op_of_group,
    outermost_total,
    parse_event_log,
    self_times,
)

CORPUS_COLS = ("repo", "path", "commit", "lang", "content")
TYPED_COLS = ("c_long", "c_double", "c_bool", "c_ts", "c_cat", "c_json")
# the engine's codec registry (codecs.selector.CODECS); "other" counts any
# codec added there later
CODEC_NAMES = ("raw", "dict", "rle", "bitpack", "for", "delta", "alp", "fsst",
               "vec", "bsplit", "struct", "map", "other")
SELF_LAYERS = ("bench", "jobs", "plans", "operators", "tables", "spark_jobs")
DML_KINDS = ("delete_cow", "delete_mor", "update", "merge", "optimize")
WRITE_KINDS = DML_KINDS + ("append",)
# chunks of each column replayed per traced run: bounds the in-process
# codec replay while every column of every table is timed
REPLAY_CHUNKS_PER_COL = 32


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {
        "session.jobs_per_op": "count",
        "session.stages_per_op": "count",
        "session.tasks_per_op": "count",
        "session.py_worker_start_s": "s",
        "session.py_worker_init_s": "s",
        "session.driver_gap_s": "s",
        "plans.assign_partitions_s": "s",
        "plans.parts_planned": "count",
        "codecs.select_share": "ratio",
        "operators.py_run_s": "s",
        "operators.ipc_sent_bytes_per_raw_byte": "ratio",
        "operators.ipc_returned_bytes_per_raw_byte": "ratio",
        "tables.commit_s": "s",
        "tables.lineage_load_s": "s",
        "tables.prune_s": "s",
        "tables.parts_admitted_ratio": "ratio",
        "chunkscan.chunks_skipped_ratio": "ratio",
        "chunkscan.rg_read_ratio": "ratio",
        "pyreader.read_s": "s",
        "pyreader.decode_job_s": "s",
        "jobs.parts_rewritten": "count",
        "jobs.shuffle_bytes_per_changed_row": "B/row",
        "jobs.bytes_written_per_changed_byte": "ratio",
        "trace.overhead_s": "s",
        "trace.overhead_share": "ratio",
    }
    for c in ("repo", "commit", "lang"):
        units[f"chunkscan.chunks_skipped_ratio.{c}"] = "ratio"
    for c in CORPUS_COLS + TYPED_COLS:
        units[f"codecs.encode_mb_s.{c}"] = "MB/s"
        units[f"codecs.decode_mb_s.{c}"] = "MB/s"
    for c in CODEC_NAMES:
        units[f"codecs.chosen.{c}"] = "count"
    for layer in SELF_LAYERS:
        units[f"self_s.{layer}"] = "s"
    return units


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def _replay_sample(files: list[str]) -> dict[str, list[tuple[str, int]]]:
    """Up to ``REPLAY_CHUNKS_PER_COL`` chunks of each column, evenly spaced
    over the column's chunks in file order, as ``(file, row)`` pairs."""
    import pyarrow.parquet as pq

    by_col: dict[str, list[tuple[str, int]]] = {}
    for f in files:
        for row, col in enumerate(pq.read_table(f, columns=["col"]).column(0).to_pylist()):
            by_col.setdefault(col, []).append((f, row))
    sample: dict[str, list[tuple[str, int]]] = {}
    for col, chunks in by_col.items():
        step = max(1, len(chunks) // REPLAY_CHUNKS_PER_COL)
        for f, row in chunks[::step][:REPLAY_CHUNKS_PER_COL]:
            sample.setdefault(f, []).append((col, row))
    return sample


def codec_replay(tables: list[str]) -> dict[str, float]:
    """Replay ``codecs.decode_array`` then ``codecs.encode_array`` in this
    process over a sample of the stored chunks of ``tables`` (every column
    of every table), timing each column and the share of encode time spent
    in ``selector.select``. ``codecs.chosen.*`` counts every stored chunk."""
    import pyarrow.parquet as pq

    from embulk_output_s3_parquet_spark import codecs
    from embulk_output_s3_parquet_spark.codecs import selector

    out: dict[str, float] = {}
    raw: dict[str, int] = {}
    enc_s: dict[str, float] = {}
    dec_s: dict[str, float] = {}
    select_s = [0.0]
    orig_select = selector.select

    def timed_select(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig_select(*args, **kwargs)
        finally:
            select_s[0] += time.perf_counter() - t0

    files = sorted(
        f for t in tables for f in glob.glob(os.path.join(t, "data", "part_id=*", "*.parquet"))
    )
    for f in files:
        for codec in pq.read_table(f, columns=["codec"]).column(0).to_pylist():
            key = f"codecs.chosen.{codec if codec in CODEC_NAMES else 'other'}"
            out[key] = out.get(key, 0) + 1
    selector.select = timed_select
    try:
        for f, picks in sorted(_replay_sample(files).items()):
            chunks = pq.read_table(f, columns=["meta", "payload", "raw_bytes"])
            for col, row in picks:
                meta, payload, nraw = (c[row].as_py() for c in chunks.columns)
                t0 = time.perf_counter()
                values = codecs.decode_array(payload, codecs.meta_from_json(meta))
                t1 = time.perf_counter()
                codecs.encode_array(values)
                t2 = time.perf_counter()
                raw[col] = raw.get(col, 0) + nraw
                dec_s[col] = dec_s.get(col, 0.0) + (t1 - t0)
                enc_s[col] = enc_s.get(col, 0.0) + (t2 - t1)
    finally:
        selector.select = orig_select
    for col, n in raw.items():
        out[f"codecs.encode_mb_s.{col}"] = _ratio(n / 1e6, enc_s[col])
        out[f"codecs.decode_mb_s.{col}"] = _ratio(n / 1e6, dec_s[col])
    out["codecs.select_share"] = _ratio(select_s[0], sum(enc_s.values()))
    return out


def pyreader_vs_spark(spark, table: str) -> dict[str, float]:
    """Spark-free ``read_table`` of a table against ``decode_job`` collected
    to the driver: the gap is the Spark + Arrow IPC share of a full scan."""
    from embulk_output_s3_parquet_spark import jobs
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    t0 = time.perf_counter()
    read_table(table)
    t1 = time.perf_counter()
    jobs.decode_job(spark, table).toArrow()
    t2 = time.perf_counter()
    return {"pyreader.read_s": t1 - t0, "pyreader.decode_job_s": t2 - t1}


def per_layer(run, tracer: Tracer, event_lines, extra: dict) -> dict[str, float]:
    """Assemble every per-layer metric from the run's operations, spans,
    event log and the measurements in ``extra`` (codec replay, pyreader)."""
    jobs_ev, stages_ev = parse_event_log(event_lines)
    job_spans(tracer, jobs_ev)
    ops = [o for o in run.timed_ops() if o.traced]
    n_ops = max(1, len(ops))
    per_op = {o.index: {"stages": set(), "intervals": []} for o in ops}
    for job in jobs_ev.values():
        idx = op_of_group(job["group"])
        if idx in per_op and job["end"] is not None:
            per_op[idx]["stages"].update(job["stages"])
            per_op[idx]["intervals"].append((job["submit"], job["end"]))

    def op_sum(idx: int, key: str) -> float:
        return sum(stages_ev.get(s, {}).get(key, 0) for s in per_op[idx]["stages"])

    def total(key: str, kinds=None) -> float:
        return sum(op_sum(o.index, key) for o in ops if kinds is None or o.kind in kinds)

    gaps = [o.wall - interval_union(per_op[o.index]["intervals"]) for o in ops]
    raw_total = sum(o.raw_bytes or o.changed_bytes for o in ops)
    m = {name: 0.0 for name in metric_units()}
    m.update({
        "session.jobs_per_op": sum(o.jobs for o in ops) / n_ops,
        "session.stages_per_op": sum(o.stages for o in ops) / n_ops,
        "session.tasks_per_op": sum(o.tasks for o in ops) / n_ops,
        "session.py_worker_start_s": total("py_start_ms") / 1000 / n_ops,
        "session.py_worker_init_s": total("py_init_ms") / 1000 / n_ops,
        "session.driver_gap_s": median(gaps) if gaps else 0.0,
        "operators.py_run_s": total("py_run_ms") / 1000 / n_ops,
        "operators.ipc_sent_bytes_per_raw_byte": _ratio(total("py_sent_bytes"), raw_total),
        "operators.ipc_returned_bytes_per_raw_byte": _ratio(total("py_returned_bytes"), raw_total),
    })
    c = tracer.counters
    spans = tracer.spans
    plan_calls = c.get("plans.calls", 0)
    m["plans.assign_partitions_s"] = _ratio(
        outermost_total(spans, {"plans.assign_partitions", "plans.assign_partitions_generic",
                                "plans.assign_partitions_bucketed"}), plan_calls)
    m["plans.parts_planned"] = _ratio(c.get("plans.parts", 0), plan_calls)
    m["tables.commit_s"] = outermost_total(spans, {"tables.commit_staging"}) / n_ops
    m["tables.lineage_load_s"] = outermost_total(spans, {"tables.manifest"}) / n_ops
    m["tables.prune_s"] = outermost_total(
        spans, {"tables.pruned_part_dirs", "tables.surviving_parts"}) / n_ops
    m["tables.parts_admitted_ratio"] = _ratio(
        c.get("tables.parts_admitted", 0), c.get("tables.parts_considered", 0))
    skipped = total_chunks = rg_read = rg_total = 0
    for col in ("repo", "commit", "lang"):
        s = c.get(f"chunkscan.{col}.chunks_skipped", 0)
        t = c.get(f"chunkscan.{col}.chunks_total", 0)
        m[f"chunkscan.chunks_skipped_ratio.{col}"] = _ratio(s, t)
        skipped += s
        total_chunks += t
        rg_read += c.get(f"chunkscan.{col}.rg_read", 0)
        rg_total += c.get(f"chunkscan.{col}.rg_total", 0)
    m["chunkscan.chunks_skipped_ratio"] = _ratio(skipped, total_chunks)
    m["chunkscan.rg_read_ratio"] = _ratio(rg_read, rg_total)
    dml = [o for o in ops if o.kind in DML_KINDS]
    m["jobs.parts_rewritten"] = _ratio(
        sum((o.report or {}).get("parts_rewritten", 0) for o in dml), len(dml))
    writes = [o for o in ops if o.kind in WRITE_KINDS]
    m["jobs.shuffle_bytes_per_changed_row"] = _ratio(
        total("shuffle_write_bytes", WRITE_KINDS), sum(o.changed_rows for o in writes))
    m["jobs.bytes_written_per_changed_byte"] = _ratio(
        total("output_bytes", WRITE_KINDS), sum(o.changed_bytes for o in writes))
    for layer, secs in self_times(spans).items():
        if f"self_s.{layer}" in m:
            m[f"self_s.{layer}"] = secs / n_ops
    m.update(extra)
    return m
