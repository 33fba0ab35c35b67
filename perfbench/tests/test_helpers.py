"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pytest

from perfbench import inputs as inp
from perfbench import layers, run
from perfbench.stats import median, tail
from perfbench.trace import (
    Span,
    Tracer,
    interval_union,
    job_spans,
    outermost_total,
    parse_event_log,
    self_times,
    tracing_overhead,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


# -- inputs ----------------------------------------------------------------------


def test_generators_are_deterministic_per_seed():
    a = inp.corpus_table(3, rows=300)
    assert a.equals(inp.corpus_table(3, rows=300))
    assert a.equals(inp.corpus_table(3, rows=300, procs=2))
    assert not a.equals(inp.corpus_table(4, rows=300))
    t = inp.typed_table(3, rows=2000)
    assert t.equals(inp.typed_table(3, rows=2000))
    assert not t.equals(inp.typed_table(4, rows=2000))
    assert t.column_names == list(layers.TYPED_COLS)
    assert a.column_names == list(layers.CORPUS_COLS)


def test_corpus_keys_are_unique_and_disjoint_across_seeds():
    a = inp.corpus_table(5, rows=500).column(inp.CORPUS_KEY).to_pylist()
    b = inp.corpus_table(6, rows=500).column(inp.CORPUS_KEY).to_pylist()
    app = inp.fresh_rows(5, 0, 64).column(inp.CORPUS_KEY).to_pylist()
    assert len(set(a)) == len(a)
    assert not set(a) & set(b)
    assert not set(a) & set(app)


def test_digest_sees_values_nulls_and_types_not_chunking():
    t = pa.table({"s": pa.array(["a", None, "bc"]), "x": pa.array([1, 2, None])})
    chunked = pa.concat_tables([t.slice(0, 1), t.slice(1)])
    assert inp.digest(t) == inp.digest(chunked)
    assert inp.digest(t) != inp.digest(pa.table({"s": pa.array(["a", "", "bc"]), "x": t["x"]}))
    assert inp.digest(t) != inp.digest(pa.table({"s": t["s"], "x": pa.array([1, 2, 0])}))
    assert inp.digest(t) != inp.digest(t.cast(pa.schema([("s", pa.string()), ("x", pa.int32())])))


@pytest.fixture
def small_inputs(monkeypatch, tmp_path):
    monkeypatch.setattr(inp, "CORPUS_ROWS", 200)
    monkeypatch.setattr(inp, "TYPED_ROWS", 500)
    pins = inp.record_pins(2, 2)
    pins_path = tmp_path / "pins.json"
    pins_path.write_text(json.dumps(pins))
    monkeypatch.setattr(inp, "PINS", str(pins_path))
    return tmp_path / "cache", pins_path, pins


def test_load_builds_then_reuses_the_cache(small_inputs):
    cache, _pins_path, pins = small_inputs
    first = inp.load(str(cache), 2)
    assert first.corpus.num_rows == 200
    assert first.meta["corpus"]["digest"] == pins["seeds"]["2"]["corpus"]["digest"]
    again = inp.load(str(cache), 2)
    assert again.dir == first.dir
    assert again.typed.equals(first.typed)


def test_load_fails_when_pinned_digest_differs(small_inputs):
    cache, pins_path, pins = small_inputs
    pins["seeds"]["2"]["typed"]["digest"] = "0" * 64
    pins_path.write_text(json.dumps(pins))
    with pytest.raises(inp.InputMismatch, match="typed input digest"):
        inp.load(str(cache), 2)


def test_load_fails_when_cache_record_differs(small_inputs):
    cache, _pins_path, _pins = small_inputs
    data = inp.load(str(cache), 2)
    data.meta["corpus"]["rows"] = 199
    data.save_meta()
    with pytest.raises(inp.InputMismatch, match="corpus input rows"):
        inp.load(str(cache), 2)


def test_load_fails_when_the_canary_moves(small_inputs):
    cache, pins_path, pins = small_inputs
    pins["canary"] = "0" * 64
    pins_path.write_text(json.dumps(pins))
    with pytest.raises(inp.InputMismatch, match="canary"):
        inp.load(str(cache), 2)


def test_committed_pins_match_the_generator():
    with open(inp.PINS) as f:
        pins = json.load(f)
    inp.check_canary(pins)
    seed = min(pins["seeds"], key=int)
    want = pins["seeds"][seed]
    assert inp.digest(inp.corpus_table(int(seed))) == want["corpus"]["digest"]
    assert inp.digest(inp.typed_table(int(seed))) == want["typed"]["digest"]


# -- percentile rule -------------------------------------------------------------


def test_tail_needs_ten_samples_beyond_and_lies_above_the_median():
    assert tail([float(i) for i in range(19)]) is None
    value, level = tail([float(i) for i in range(20)])
    assert (value, level) == (9.0, 0.5)
    values = [float(i) for i in range(40, 0, -1)]  # order must not matter
    value, level = tail(values)
    assert value == 30.0 and level == 0.75
    assert sum(v > value for v in values) == 10


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    with pytest.raises(ValueError):
        median([])


# -- tracing ---------------------------------------------------------------------


def test_interval_union_merges_overlaps():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 2), (1, 3), (5, 6)]) == 4.0


def test_self_times_subtract_covered_child_time():
    spans = [
        Span("op", "bench", 0.0, 10.0, None, 0),
        Span("jobs.update_job", "jobs", 1.0, 9.0, 0, 0),
        Span("spark.job", "spark_jobs", 2.0, 5.0, 1, 0),
        Span("spark.job", "spark_jobs", 4.0, 6.0, 1, 0),
        Span("tables.manifest", "tables", 7.0, 8.0, 1, 0),
    ]
    got = self_times(spans)
    assert got == {"bench": 2.0, "jobs": 3.0, "spark_jobs": 5.0, "tables": 1.0}


def test_outermost_total_counts_nested_calls_once():
    spans = [
        Span("op", "bench", 0.0, 10.0, None, 0),
        Span("tables.pruned_part_dirs", "tables", 1.0, 4.0, 0, 0),
        Span("tables.surviving_parts", "tables", 1.5, 3.5, 1, 0),
        Span("tables.surviving_parts", "tables", 6.0, 7.0, 0, 0),
    ]
    names = {"tables.pruned_part_dirs", "tables.surviving_parts"}
    assert outermost_total(spans, names) == 4.0


def test_tracer_wraps_and_restores():
    class Owner:
        @staticmethod
        def work(x):
            return x + 1

    orig = Owner.work
    tr = Tracer(enabled=True)
    seen = []
    tr.wrap(Owner, "work", "jobs", post=lambda result, args: seen.append(result))
    assert Owner.work(1) == 2  # outside an operation: no span, no post hook
    root = tr.begin("op", "bench", op=0)
    assert Owner.work(2) == 3
    tr.end(root)
    tr.uninstall()
    assert Owner.work is orig
    assert [s.name for s in tr.spans] == ["op", "jobs.work"]
    assert tr.spans[1].parent == 0 and tr.spans[1].op == 0
    assert seen == [3]


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    tr.install_engine_wrappers()
    assert tr.begin("op", "bench", op=0) is None
    assert tr.spans == [] and tr._undo == []


def test_event_log_parser_on_recorded_log():
    with open(os.path.join(HERE, "data", "eventlog_small.jsonl")) as f:
        jobs, stages = parse_event_log(f)
    groups = {j["group"] for j in jobs.values()}
    assert groups == {"pb-0-update", "perfbench-untimed"}
    op_jobs = [j for j in jobs.values() if j["group"] == "pb-0-update"]
    assert len(op_jobs) >= 2
    assert all(j["end"] >= j["submit"] for j in jobs.values())
    sids = {s for j in op_jobs for s in j["stages"]}
    ran = [stages[s] for s in sids if s in stages]
    assert sum(s["tasks"] for s in ran) > 0
    assert sum(s["py_run_ms"] for s in ran) > 0
    assert sum(s["py_returned_bytes"] for s in ran) > 0
    assert sum(s["output_bytes"] for s in ran) > 0

    tr = Tracer(enabled=True)
    first = min(j["submit"] for j in op_jobs)
    last = max(j["end"] for j in op_jobs)
    tr.spans.append(Span("update", "bench", first - 0.5, last + 0.5, None, 0))
    job_spans(tr, jobs)
    added = [s for s in tr.spans if s.layer == "spark_jobs"]
    assert len(added) == len(op_jobs)
    assert all(s.parent == 0 for s in added)
    st = self_times(tr.spans)
    assert st["bench"] == pytest.approx(
        (last - first + 1.0) - interval_union([(s.start, s.end) for s in added])
    )


def test_tracing_overhead_pairs_the_nth_op_of_each_kind():
    plain = [["a", 1.0], ["b", 2.0], ["a", 1.5], ["opt", 0.5]]
    # an extra traced op has no partner
    traced = [["a", 1.25], ["b", 2.5], ["a", 1.0], ["b", 9.0], ["opt", 0.75]]
    over, base = tracing_overhead(plain, traced)
    assert over == pytest.approx(0.25 + 0.5 - 0.5 + 0.25)
    assert base == pytest.approx(5.0)


# -- the benchmark definition ----------------------------------------------------


def test_benchmark_json_names_every_printed_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.metric_units()
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in bench["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
