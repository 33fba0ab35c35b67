"""One benchmark run, in the child process that ``perfbench/run.py`` starts
with the Spark environment already fitted to the machine.

Writes one JSON document to ``--out``; prints nothing on standard output.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import time

from . import inputs as inp
from .layers import codec_replay, per_layer, pyreader_vs_spark
from .stats import median
from .trace import Tracer, tracing_overhead
from .workloads import WORKLOADS, Run, round_walls



def _warm_workers(spark) -> None:
    """A no-op Arrow job on every core: starts the Python workers."""
    import pyarrow as pa

    def noop(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": pa.array([b.num_rows], pa.int32())})

    n = spark.sparkContext.defaultParallelism * 2
    spark.range(0, n, 1, n).mapInArrow(noop, "n int").count()


def _snappy_bytes(spark, data: inp.Inputs, scratch: str) -> None:
    """Spark's Snappy-Parquet writer over each input, once per cached seed:
    the reference-equivalent size yardstick."""
    changed = False
    for name, path in (("corpus", data.corpus_path), ("typed", data.typed_path)):
        if "snappy_bytes" in data.meta[name]:
            continue
        out = os.path.join(scratch, f"snappy-{name}")
        spark.read.parquet(path).write.mode("overwrite").option(
            "compression", "snappy").parquet(out)
        data.meta[name]["snappy_bytes"] = sum(
            os.path.getsize(f) for f in glob.glob(os.path.join(out, "part-*.parquet"))
        )
        shutil.rmtree(out)
        changed = True
    if changed:
        data.save_meta()


def _stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def measure(run: Run, wl, seconds: float, n_rounds: int | None = None) -> list:
    """Rounds until ``seconds`` have passed (at least one), or exactly
    ``n_rounds``; then the workload's closing operations. Returns each
    round's [first, last) op range."""
    rounds = []
    deadline = time.perf_counter() + seconds
    while (len(rounds) < n_rounds if n_rounds is not None
           else not rounds or time.perf_counter() < deadline):
        first = len(run.ops)
        wl.round(len(rounds))
        rounds.append((first, len(run.ops)))
    wl.finish()
    return rounds


def execute(args) -> dict:
    state = os.path.join(args.root, ".perfbench")
    work = os.path.join(state, "work", str(os.getpid()))
    os.makedirs(work)
    data = inp.load(os.path.join(state, "inputs"), args.seed)

    t0 = time.perf_counter()
    from embulk_output_s3_parquet_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{args.workload}")
    _warm_workers(spark)
    session_s = time.perf_counter() - t0
    try:
        _snappy_bytes(spark, data, work)
        tracer = Tracer(enabled=False)
        run = Run(spark, data, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](run)
        setups = []
        # setup_s keeps the median step; a traced run reports no setup_s
        for i in range(1 if args.trace else wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup_once(i)
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0

        if args.trace:
            rng_state = run.rng.bit_generator.state
            wl.mark()
        rounds = measure(run, wl, args.seconds)
        if args.trace:
            # the same operations again, traced: same draws, same table state
            n_plain = len(run.ops)
            run.rng.bit_generator.state = rng_state
            wl.rewind()
            tracer.enabled = True
            tracer.install_engine_wrappers()
            measure(run, wl, 0, len(rounds))
            tracer.uninstall()

        walls = round_walls(run, rounds)
        failed = sum(1 for o in run.ops if not o.ok)
        named = {
            "setup_s": (session_s + median(setups) + warm_s, "s", "lower", len(setups)),
            **wl.named_metrics(),
            "failed_ops_ratio": (failed / len(run.ops), "ratio", "lower", len(run.ops)),
        }
        result = {
            "workload": args.workload,
            "seed": args.seed,
            "round_walls": walls,
            "op_walls": [[o.kind, round(o.wall, 4), o.traced] for o in run.timed_ops()],
            "attempted": len(run.ops),
            "failed": failed,
            "setup": {"session_s": session_s, "fixture_s": setups, "warm_up_s": warm_s},
            "metrics": {
                "setup_s": named["setup_s"][0],
                "round_p50_s": median(walls),
                "bytes_vs_snappy": wl.bytes_vs_snappy(),
            },
            "named": {
                k: dict(zip(("value", "unit", "better", "samples", "percentile"), v))
                for k, v in named.items()
            },
        }
        if args.trace:
            tables = wl.trace_tables()
            extra = {**codec_replay(tables), **pyreader_vs_spark(spark, tables[0])}
            over, base = tracing_overhead(
                [(o.kind, o.wall) for o in run.ops[:n_plain] if o.timed],
                [(o.kind, o.wall) for o in run.ops[n_plain:] if o.timed],
            )
            extra["trace.overhead_s"] = over
            extra["trace.overhead_share"] = over / base
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        logs = glob.glob(os.path.join(args.event_log_dir, "local-*"))
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log in {args.event_log_dir}: {logs}")
        with open(logs[0]) as f:
            result["layers"] = per_layer(run, tracer, f, extra)
    return result


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--root", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--event-log-dir", default="")
    args = p.parse_args()
    result = execute(args)
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
