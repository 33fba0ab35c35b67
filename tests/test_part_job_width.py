"""Task sizing of per-part jobs (decode scans, task-local rewrites,
merge-on-read marking, counts): small parts share a task, large ones keep
the full width."""

from __future__ import annotations

from pyspark.sql import types as T

from embulk_output_s3_parquet_spark.operators.decode import part_job_width
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
from embulk_output_s3_parquet_spark.sources.tables import SHARD_SIZE, EncodedTable

MIB = 1 << 20


class _Lineage:
    def __init__(self, enc_bytes: dict[int, int]):
        self.enc_bytes = enc_bytes

    def parts_enc_bytes(self, pids) -> dict[int, int]:
        return {p: self.enc_bytes[p] for p in pids if p in self.enc_bytes}


def test_small_parts_share_one_task():
    t = _Lineage({p: 20_000 for p in range(16)})
    assert part_job_width(t, range(16), 8) == 1


def test_width_tracks_bytes_up_to_cores():
    t = _Lineage({p: MIB for p in range(16)})
    assert part_job_width(t, range(3), 8) == 3
    assert part_job_width(t, range(16), 8) == 8


def test_unknown_parts_count_a_full_task():
    # a retained snapshot's parts are not in the live lineage
    t = _Lineage({})
    assert part_job_width(t, [101, 102], 8) == 2


def test_parts_enc_bytes_reads_the_live_lineage(tmp_path):
    schema = T.StructType([T.StructField("x", T.LongType())])
    t = EncodedTable.create(str(tmp_path / "t"), schema, CodecPolicy())
    pids = [0, 1, SHARD_SIZE + 2]
    t._append_parts({p: {"rows": 1, "chunks": 1, "enc_bytes": 100 + p} for p in pids})
    assert t.parts_enc_bytes(pids + [7]) == {p: 100 + p for p in pids}
