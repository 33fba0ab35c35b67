"""The repository benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload {ingest,scan_maintain} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The launcher fits Spark to the machine
(``local[<cpus>]``, driver memory below RAM, local and temp dirs inside
``.perfbench/``), runs the workload in a child process and prints, as its
last stdout line, ``{"correct", "attempted", "failed", "metrics"}``. The
line before it holds the workload's named metrics (unit, better direction,
sample count) and the set-up breakdown.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures the
seed's rounds untraced, then replays the same operations with the
driver-side wrappers and counters on (Spark's event log is on for the whole
run), and reports the per-layer metrics plus the tracing overhead (traced
minus untraced wall, summed over the paired operations).

The legacy ``bench.py`` at the root is a different, frozen harness.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(ROOT, "embulk_output_s3_parquet_spark", "__init__.py")
WORKLOADS = ("ingest", "scan_maintain")
E2E_UNITS = {"setup_s": "s", "round_p50_s": "s", "bytes_vs_snappy": "ratio"}
# the whole invocation
DEADLINE_S = 175
MAX_DRIVER_MB = 4096


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mb() -> int:
    """A quarter of RAM, at most 4 GiB (the engine's 16g default exceeds
    small machines)."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(MAX_DRIVER_MB, int(line.split()[1]) // 1024 // 4)
    return 1024


def _env(state: str, event_log_dir: str | None) -> dict:
    tmp = os.path.join(state, "tmp")
    local = os.path.join(state, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_log_dir:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log_dir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_DRIVER_MEM": f"{_driver_mb()}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM spark-submit starts: temp files inside the checkout and
        # no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    return env


def _reap(pgid: int) -> None:
    """Stop whatever the child left in its process group and wait for it."""
    try:
        os.killpg(pgid, signal.SIGTERM)
    except ProcessLookupError:
        return
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.2)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while True:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def run_child(args, trace: int, state: str, deadline: float) -> dict:
    scratch = tempfile.mkdtemp(dir=state, prefix="run-")
    out = os.path.join(scratch, "result.json")
    event_log_dir = os.path.join(scratch, "eventlog") if trace else ""
    if event_log_dir:
        os.makedirs(event_log_dir)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--root", ROOT, "--out", out, "--event-log-dir", event_log_dir,
    ]
    proc = subprocess.Popen(
        cmd, cwd=os.path.join(state, "tmp"), env=_env(state, event_log_dir),
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        _reap(proc.pid)
        proc.wait()
    try:
        if code != 0:
            raise SystemExit(f"perfbench: workload child exited with {code}")
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.exists(ENGINE):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    state = os.path.join(ROOT, ".perfbench")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)

    deadline = time.time() + DEADLINE_S
    result = run_child(args, args.trace, state, deadline)
    if args.trace:
        from perfbench.layers import metric_units

        units = metric_units()
        metrics = {k: {"value": v, "unit": units[k]} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result["metrics"].items()}
    attempted, failed = result["attempted"], result["failed"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "round_walls": result["round_walls"], "op_walls": result["op_walls"],
        "setup": result["setup"], "named": result["named"],
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
