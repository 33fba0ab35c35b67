"""The two closed-loop workloads: ingest and scan_maintain.

One client issues an operation only after the previous one finished. Each
workload runs rounds of a seeded operation mix until the measuring time is
spent (at least one round), and checks every operation's result, untimed,
against exact answers computed from the raw input. A failed or wrong
operation is counted and the run goes on.

Why these two: ``ingest`` is the paper's bulk encode path (planning, encode
kernels, chunk write, commit) and never scans or rewrites. ``scan_maintain``
builds one clustered table and runs two phases on it per round: a read-only
scan mix on the table itself (pruning, chunk scan, decode kernels, the Arrow
boundary; no encode) and a mix of small commits on a hard-link clone of it,
where each operation moves few bytes, so latency is set by Spark job count,
the rewrite tail and the commit path -- the write layers ``ingest`` uses,
used differently. The two phases share one set-up, which is what lets the
benchmark's run budget afford a round of each.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import inputs as inp
from .stats import median, tail
from .trace import GROUP_PREFIX, Tracer

MB = 1e6
FIXTURE_PART_BYTES = 4 << 20
# rewrite_small_parts threshold: selects the trickle-appended and merged
# parts (tens of KB encoded), never the fixture's ~1 MB parts
OPTIMIZE_MIN_PART_BYTES = 256 << 10
SELECT_KINDS = ("repo", "commit", "lang")
SELECTS_PER_KIND = 2


@dataclass
class Op:
    index: int
    kind: str
    wall: float
    ok: bool
    raw_bytes: int = 0
    changed_rows: int = 0
    changed_bytes: int = 0
    report: dict | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    timed: bool = True
    traced: bool = False


@dataclass
class Run:
    """Shared state of one benchmark run."""

    spark: object
    inputs: inp.Inputs
    work: str
    seed: int
    tracer: Tracer
    ops: list[Op] = field(default_factory=list)

    def __post_init__(self):
        self.rng = np.random.default_rng([self.seed, 0xB3])
        self.sc = self.spark.sparkContext

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def op(self, kind: str, fn, check, raw_bytes: int = 0,
           changed_rows: int = 0, changed_bytes: int = 0):
        """Time ``fn()`` as one operation, then check its result untimed."""
        index = len(self.ops)
        group = f"{GROUP_PREFIX}{index}-{kind}"
        os.sync()
        self.sc.setJobGroup(group, kind)
        span = self.tracer.begin(kind, "bench", op=index)
        t0 = time.perf_counter()
        result, ok = None, True
        try:
            result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        self.tracer.end(span)
        self.sc.setJobGroup("perfbench-untimed", "checks")
        if ok:
            try:
                ok = bool(check(result))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            if not ok:
                print(f"perfbench: wrong result from {kind} op {index}", file=sys.stderr)
        op = Op(index, kind, wall, ok, raw_bytes, changed_rows, changed_bytes,
                result if isinstance(result, dict) else None,
                traced=self.tracer.enabled)
        if self.tracer.enabled:
            self._count_jobs(group, op)
        self.ops.append(op)
        return result

    def _count_jobs(self, group: str, op: Op) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            op.jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                op.stages += 1
                op.tasks += si.numTasks if si is not None else 0

    def check(self, what: str, ok: bool) -> None:
        """An untimed correctness check outside any timed operation."""
        self.ops.append(Op(len(self.ops), what, 0.0, bool(ok), timed=False))
        if not ok:
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def timed_ops(self) -> list[Op]:
        return [o for o in self.ops if o.timed]

    # the end-to-end figures come from untraced operations only
    def kind_walls(self, kind: str) -> list[float]:
        return [o.wall for o in self.ops if o.kind == kind and not o.traced]

    def kind_ops(self, kinds) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds and not o.traced]


def stored_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def clone(src: str, dst: str) -> None:
    """Hard-link clone: the engine replaces files, never edits them."""
    shutil.rmtree(dst, ignore_errors=True)
    subprocess.run(["cp", "-al", src, dst], check=True)


def _sha_rows(df) -> dict:
    from pyspark.sql import functions as F

    rows = df.select("commit", F.sha2(F.col("content"), 256).alias("h")).collect()
    return {r["commit"]: r["h"] for r in rows}


def _row_raw_bytes(table: pa.Table) -> np.ndarray:
    total = np.zeros(table.num_rows, dtype=np.int64)
    for name in table.column_names:
        lens = pc.binary_length(table.column(name).combine_chunks().cast(pa.binary()))
        total += np.asarray(lens.fill_null(0), dtype=np.int64)
    return total


def _rows_bytes(rows: list[dict]) -> int:
    return sum(len(v.encode()) for row in rows for v in row.values() if v)


def _table_rows(table) -> int:
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    return sum(int(r["rows"]) for r in EncodedTable(table).lineage().values())


class Ingest:
    name = "ingest"
    # the set-up step is a 500-row ingest, cheap enough to repeat
    setup_repeats = 3

    def __init__(self, run: Run):
        from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy

        self.run = run
        self.policy = CodecPolicy(target_partition_bytes=FIXTURE_PART_BYTES)
        spark, data = run.spark, run.inputs
        self.dfs = {
            "text": spark.read.parquet(data.corpus_path),
            "typed": spark.read.parquet(data.typed_path),
        }
        self.raw = {"text": data.raw_bytes("corpus"), "typed": data.raw_bytes("typed")}
        self.snappy = {"text": data.meta["corpus"]["snappy_bytes"],
                       "typed": data.meta["typed"]["snappy_bytes"]}
        self.rows = {"text": data.corpus.num_rows, "typed": data.typed.num_rows}
        self.text_shas = inp.row_shas(data.corpus, inp.CORPUS_KEY, "content")
        self.typed_sorted = data.typed.sort_by(inp.TYPED_KEY)
        self.stored: dict[str, int] = {}
        self.tables: dict[str, str] = {}

    def _warm_ingest(self, kind: str, rows: int | None = None) -> None:
        from embulk_output_s3_parquet_spark import jobs

        path = self.run.path(f"warm-{kind}")
        df = self.dfs[kind] if rows is None else self.dfs[kind].limit(rows)
        jobs.encode_job(self.run.spark, df, path, policy=self.policy, if_exists="delete")
        shutil.rmtree(path)

    def setup_once(self, i: int) -> None:
        # a small corpus ingest: starts and imports the Python workers and
        # compiles the encode plans
        self._warm_ingest("text", 500)

    def warm_up(self) -> None:
        # a quarter of each table, so every core's Python worker has encoded
        # both tables. The first full-size ingest still runs 1-3 s slower
        # than the next; warming at full size would cost about 4 s a run.
        for kind in ("text", "typed"):
            self._warm_ingest(kind, self.rows[kind] // 4)

    def _check(self, kind: str, path: str) -> bool:
        from embulk_output_s3_parquet_spark import jobs
        from embulk_output_s3_parquet_spark.sources.pyreader import read_table

        if jobs.verify_table(self.run.spark, path):
            return False
        if _table_rows(path) != self.rows[kind]:
            return False
        got = read_table(path)
        if kind == "text":
            return inp.row_shas(got, inp.CORPUS_KEY, "content") == self.text_shas
        got = got.sort_by(inp.TYPED_KEY)
        want = self.typed_sorted
        return got.num_rows == want.num_rows and all(
            got.column(c).combine_chunks().cast(want.schema.field(c).type).equals(
                want.column(c).combine_chunks()
            )
            for c in want.column_names
        )

    def round(self, r: int) -> None:
        from embulk_output_s3_parquet_spark import jobs

        for kind in ("text", "typed"):
            path = self.run.path(f"ingest-{kind}-{len(self.run.ops)}")
            self.run.op(
                f"ingest_{kind}",
                lambda: jobs.encode_job(self.run.spark, self.dfs[kind], path,
                                        policy=self.policy, if_exists="error"),
                lambda _t: self._check(kind, path),
                raw_bytes=self.raw[kind],
            )
            self.stored[kind] = stored_bytes(path)
            old = self.tables.get(kind)
            if old:
                shutil.rmtree(old, ignore_errors=True)
            self.tables[kind] = path

    def finish(self) -> None:
        pass

    def mark(self) -> None:
        pass

    def rewind(self) -> None:
        pass

    def trace_tables(self) -> list[str]:
        return list(self.tables.values())

    def named_metrics(self) -> dict:
        out = {}
        for kind in ("text", "typed"):
            rates = [self.raw[kind] / MB / w for w in self.run.kind_walls(f"ingest_{kind}")]
            out[f"ingest.{kind}_mb_s"] = (median(rates), "MB/s", "higher", len(rates))
            out[f"ingest.{kind}_bytes_vs_snappy"] = (
                self.stored[kind] / self.snappy[kind], "ratio", "lower", 1)
        return out

    def bytes_vs_snappy(self) -> float:
        return sum(self.stored.values()) / sum(self.snappy.values())


class Fixture:
    """The corpus table clustered on repo, with blooms on commit."""

    def __init__(self, run: Run):
        from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy

        self.run = run
        self.policy = CodecPolicy(target_partition_bytes=FIXTURE_PART_BYTES,
                                  bloom_columns=("commit",))
        self.df = run.spark.read.parquet(run.inputs.corpus_path)
        self.source = run.inputs.corpus
        self.path = None
        self.stored = 0

    def build(self, i: int) -> None:
        from embulk_output_s3_parquet_spark import jobs

        path = self.run.path(f"fixture-{i}")
        jobs.encode_job(self.run.spark, self.df, path, policy=self.policy,
                        if_exists="delete", cluster_by=["repo"])
        if self.path:
            shutil.rmtree(self.path, ignore_errors=True)
        self.path = path
        self.stored = stored_bytes(path)


class ScanMix:
    """Read-only phase on the fixture itself."""

    def __init__(self, run: Run, fixture: Fixture):
        self.run = run
        self.fx = fixture
        src = fixture.source
        self.shas = inp.row_shas(src, inp.CORPUS_KEY, "content")
        self.row_bytes = _row_raw_bytes(src)
        self.raw = int(run.inputs.raw_bytes("corpus"))
        commits = src.column("commit").to_pylist()
        self.commits = commits
        self.by_value = {}
        for col in SELECT_KINDS:
            vals = src.column(col).to_pylist()
            idx: dict = {}
            for i, v in enumerate(vals):
                if v is not None:
                    idx.setdefault(v, []).append(i)
            self.by_value[col] = idx
        # select keys by frequency rank: the hottest repo/lang would make
        # one select a near-full scan, so ranks are drawn from a fixed band
        self.ranked = {
            col: sorted(self.by_value[col], key=lambda v: (-len(self.by_value[col][v]), v))
            for col in ("repo", "lang")
        }

    def warm_up(self) -> None:
        from embulk_output_s3_parquet_spark import jobs

        _sha_rows(jobs.decode_job(self.run.spark, self.fx.path))

    def _key(self, col: str):
        rng = self.run.rng
        if col == "commit":
            return self.commits[int(rng.integers(len(self.commits)))]
        band = self.ranked[col][1:9]
        return band[int(rng.integers(len(band)))]

    def _expect(self, col: str, v) -> dict:
        return {self.commits[i]: self.shas[self.commits[i]] for i in self.by_value[col][v]}

    def _full(self) -> None:
        from embulk_output_s3_parquet_spark import jobs

        self.run.op(
            "full",
            lambda: _sha_rows(jobs.decode_job(self.run.spark, self.fx.path)),
            lambda got: got == self.shas,
            raw_bytes=self.raw,
        )

    def _select(self, col: str) -> None:
        from pyspark.sql import functions as F

        from embulk_output_s3_parquet_spark import jobs
        from embulk_output_s3_parquet_spark.operators.decode import scan_counters

        v = self._key(col)
        counters = scan_counters(self.run.spark) if self.run.tracer.enabled else None

        def query():
            df = jobs.decode_job(self.run.spark, self.fx.path,
                                 where=(col, "==", v), counters=counters)
            return _sha_rows(df.filter(F.col(col) == v))

        self.run.op(
            f"select_{col}", query, lambda got: got == self._expect(col, v),
            raw_bytes=int(self.row_bytes[self.by_value[col][v]].sum()),
        )
        if counters is not None:
            for k, acc in counters.items():
                self.run.tracer.count(f"chunkscan.{col}.{k}", acc.value)

    def _count(self, col: str) -> None:
        from embulk_output_s3_parquet_spark import jobs

        v = self._key(col)
        self.run.op(
            f"count_{col}",
            lambda: jobs.count_job(self.run.spark, self.fx.path, where=(col, "==", v)),
            lambda got: got == len(self.by_value[col][v]),
        )

    def round(self, r: int) -> None:
        mix = [("full", None)]
        mix += [("select", c) for c in SELECT_KINDS for _ in range(SELECTS_PER_KIND)]
        mix += [("count", c) for c in SELECT_KINDS]
        for i in self.run.rng.permutation(len(mix)):
            what, col = mix[i]
            if what == "full":
                self._full()
            elif what == "select":
                self._select(col)
            else:
                self._count(col)

    def named_metrics(self) -> dict:
        run = self.run
        full = [o.raw_bytes / MB / o.wall for o in run.kind_ops({"full"})]
        sel = [o.wall for o in run.kind_ops({f"select_{c}" for c in SELECT_KINDS})]
        cnt = [o.wall for o in run.kind_ops({f"count_{c}" for c in SELECT_KINDS})]
        out = {
            "scan.full_mb_s": (median(full), "MB/s", "higher", len(full)),
            "scan.select_p50_s": (median(sel), "s", "lower", len(sel)),
            "scan.count_p50_s": (median(cnt), "s", "lower", len(cnt)),
        }
        t = tail(sel)
        out["scan.select_tail_s"] = (
            (t[0], "s", "lower", len(sel), round(t[1], 4)) if t
            else (None, "s", "lower", len(sel), None)
        )
        return out


MAINTAIN_KINDS = ("append", "delete_cow", "delete_mor", "update", "merge")
APPEND_ROWS = 64
# fresh-row offsets of the warm-up's rows and of merge inserts: far above
# any append batch of a run
WARM_ROWS_OFFSET = 3_000_000
MERGE_ROWS_OFFSET = 4_000_000


class MaintainMix:
    """Small-commit phase on a fresh hard-link clone of the fixture."""

    def __init__(self, run: Run, fixture: Fixture):
        self.run = run
        self.fx = fixture
        src = fixture.source
        self.schema = fixture.df.schema
        cols = src.column_names
        self.model = {r["commit"]: r for r in src.to_pylist()}
        self.row_bytes = dict(zip(src.column("commit").to_pylist(),
                                  _row_raw_bytes(src).tolist()))
        # rows to modify: a seeded order over the original rows
        order = run.rng.permutation(src.num_rows)
        self.victims = [src.column("commit")[int(i)].as_py() for i in order]
        self.cols = cols
        self.table = self.run.path("maintain")
        self.appended = 0

    def warm_up(self) -> None:
        """One operation of each kind on a throw-away clone: in one round per
        run, every timed operation would otherwise be the first of its kind."""
        from embulk_output_s3_parquet_spark import jobs
        from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

        spark = self.run.spark
        warm = self.run.path("maintain-warm")
        clone(self.fx.path, warm)
        fresh = inp.fresh_rows(self.run.seed, WARM_ROWS_OFFSET, APPEND_ROWS + 1).to_pylist()
        jobs.encode_job(spark, self._frame(fresh[:-1]), warm, policy=self.fx.policy,
                        part_base=EncodedTable(warm).next_part_base(), cluster_by=["repo"])
        for mode in ("cow", "mor"):
            jobs.delete_job(spark, warm, ("commit", "==", self.victims.pop()), mode=mode)
        jobs.update_job(spark, warm, ("commit", "==", self.victims.pop()), {"lang": "'zz'"})
        key = self.victims.pop()
        changed = {**self.model[key], "content": "// warm-up"}
        jobs.merge_job(spark, warm, self._frame([changed, fresh[-1]]), on=["commit"])
        shutil.rmtree(warm)
        clone(self.fx.path, self.table)

    def mark(self) -> None:
        self._mark = (dict(self.model), list(self.victims), self.appended)

    def rewind(self) -> None:
        """Back to the state at ``mark()``, on a fresh clone of the fixture."""
        model, victims, self.appended = self._mark
        self.model, self.victims = dict(model), list(victims)
        clone(self.fx.path, self.table)

    def _count_ok(self) -> bool:
        from embulk_output_s3_parquet_spark import jobs

        return jobs.count_job(self.run.spark, self.table) == len(self.model)

    def _frame(self, rows: list[dict]):
        import pandas as pd

        return self.run.spark.createDataFrame(
            pd.DataFrame(rows, columns=self.cols), schema=self.schema
        )

    def _append(self) -> None:
        from embulk_output_s3_parquet_spark import jobs
        from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

        batch = inp.fresh_rows(self.run.seed, APPEND_ROWS * self.appended,
                               APPEND_ROWS).to_pylist()
        self.appended += 1
        df = self._frame(batch)

        def append():
            base = EncodedTable(self.table).next_part_base()
            jobs.encode_job(self.run.spark, df, self.table, policy=self.fx.policy,
                            part_base=base, cluster_by=["repo"])

        for row in batch:
            self.model[row["commit"]] = row
        self.run.op("append", append, lambda _r: self._count_ok(),
                    changed_rows=len(batch), changed_bytes=_rows_bytes(batch))

    def _delete(self, mode: str) -> None:
        from embulk_output_s3_parquet_spark import jobs

        key = self.victims.pop()
        del self.model[key]
        self.run.op(
            f"delete_{mode}",
            lambda: jobs.delete_job(self.run.spark, self.table,
                                    ("commit", "==", key), mode=mode),
            lambda rep: rep["rows_deleted"] == 1 and self._count_ok(),
            changed_rows=1, changed_bytes=self.row_bytes[key],
        )

    def _update(self) -> None:
        from embulk_output_s3_parquet_spark import jobs

        key = self.victims.pop()
        self.model[key] = {**self.model[key], "lang": "zz"}
        self.run.op(
            "update",
            lambda: jobs.update_job(self.run.spark, self.table,
                                    ("commit", "==", key), {"lang": "'zz'"}),
            lambda rep: rep["rows_updated"] == 1 and self._count_ok(),
            changed_rows=1, changed_bytes=self.row_bytes[key],
        )

    def _merge(self, r: int) -> None:
        from embulk_output_s3_parquet_spark import jobs

        key = self.victims.pop()
        changed = {**self.model[key], "content": f"{self.model[key]['content'] or ''}\n// merged {r}"}
        new = inp.fresh_rows(self.run.seed, MERGE_ROWS_OFFSET + r, 1).to_pylist()[0]
        src = self._frame([changed, new])
        self.model[key] = changed
        self.model[new["commit"]] = new
        self.run.op(
            "merge",
            lambda: jobs.merge_job(self.run.spark, self.table, src, on=["commit"]),
            lambda rep: rep["rows_updated"] == 1 and rep["rows_inserted"] == 1
            and self._count_ok(),
            changed_rows=2, changed_bytes=_rows_bytes([changed, new]),
        )

    def round(self, r: int) -> None:
        for i in self.run.rng.permutation(len(MAINTAIN_KINDS)):
            kind = MAINTAIN_KINDS[i]
            if kind == "append":
                self._append()
            elif kind == "delete_cow":
                self._delete("cow")
            elif kind == "delete_mor":
                self._delete("mor")
            elif kind == "update":
                self._update()
            else:
                self._merge(r)

    def finish(self) -> None:
        from embulk_output_s3_parquet_spark import jobs
        from embulk_output_s3_parquet_spark.sources.pyreader import read_table

        spark = self.run.spark
        self.run.op(
            "optimize",
            lambda: jobs.rewrite_small_parts(spark, self.table,
                                             min_part_bytes=OPTIMIZE_MIN_PART_BYTES),
            lambda rep: rep.get("parts_rewritten", 0) >= 1 and self._count_ok(),
        )
        self.run.check("maintain.verify_table", not jobs.verify_table(spark, self.table))
        want = {
            k: None if row["content"] is None
            else hashlib.sha256(row["content"].encode()).hexdigest()
            for k, row in self.model.items()
        }
        got = read_table(self.table, columns=[inp.CORPUS_KEY, "content"])
        self.run.check("maintain.final_content",
                       inp.row_shas(got, inp.CORPUS_KEY, "content") == want)

    def named_metrics(self) -> dict:
        out = {}
        for kind in MAINTAIN_KINDS:
            walls = self.run.kind_walls(kind)
            out[f"maintain.{kind}_p50_s"] = (median(walls), "s", "lower", len(walls))
        opt = self.run.kind_walls("optimize")
        out["maintain.optimize_s"] = (median(opt), "s", "lower", len(opt))
        return out


class ScanMaintain:
    name = "scan_maintain"
    # the set-up step is the fixture build, 6-9 s on 4 vCPUs: three builds
    # were a quarter of a run's wall
    setup_repeats = 1

    def __init__(self, run: Run):
        self.run = run
        self.fixture = Fixture(run)
        self.scan = ScanMix(run, self.fixture)
        self.maintain = MaintainMix(run, self.fixture)

    def setup_once(self, i: int) -> None:
        self.fixture.build(i)

    def warm_up(self) -> None:
        self.scan.warm_up()
        self.maintain.warm_up()

    def round(self, r: int) -> None:
        self.scan.round(r)
        self.maintain.round(r)

    def finish(self) -> None:
        self.maintain.finish()

    def mark(self) -> None:
        self.maintain.mark()

    def rewind(self) -> None:
        self.maintain.rewind()

    def trace_tables(self) -> list[str]:
        return [self.fixture.path]

    def named_metrics(self) -> dict:
        return {**self.scan.named_metrics(), **self.maintain.named_metrics()}

    def bytes_vs_snappy(self) -> float:
        """Stored bytes of the freshly built fixture (clustered on repo, blooms
        on commit): one generation, no retained copies, same rows as the
        Snappy yardstick."""
        return self.fixture.stored / self.run.inputs.meta["corpus"]["snappy_bytes"]


WORKLOADS = {w.name: w for w in (Ingest, ScanMaintain)}


def round_walls(run: Run, rounds: list[tuple[int, int]]) -> list[float]:
    """Sum of op walls per round, given each round's [first, last) op range."""
    return [sum(o.wall for o in run.ops[a:b]) for a, b in rounds]
