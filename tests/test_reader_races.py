"""Readers racing a generation flip: a lineage read that resolved the old
``parts-<gen>`` pointer just before a flip reclaimed that dir (snapshot
retention 0), and a part stream whose table read comes back short for one
trigger. Both are driven deterministically by injecting the flip (or the
short read) at the exact point of the race."""

from __future__ import annotations

import os

from pyspark.sql import types as T

from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
from embulk_output_s3_parquet_spark.sources.datasource import EncodedTableStreamReader
from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

SCHEMA = T.StructType([T.StructField("x", T.LongType())])


def _row(pid: int) -> dict:
    return {"rows": 1, "chunks": 1, "raw_bytes": 10, "enc_bytes": 5}


def _table(tmp_path, n: int = 10) -> str:
    path = str(tmp_path / "t")
    t = EncodedTable.create(path, SCHEMA, CodecPolicy())
    t._append_parts({p: _row(p) for p in range(n)})
    return path


def test_lineage_read_survives_a_flip_after_the_pointer_read(tmp_path, monkeypatch):
    path = _table(tmp_path)
    old_dir = EncodedTable(path).parts_dir
    real = EncodedTable.parts_dir
    flipped: list[str] = []

    def racing(self):
        d = real.fget(self)
        if not flipped:
            # another writer flips the generation right after this reader
            # resolved the pointer; retention 0 reclaims the old dir
            flipped.append(d)
            EncodedTable(path)._update_parts(remove={0}, add={100: _row(100)})
            assert not os.path.exists(old_dir)
        return d

    monkeypatch.setattr(EncodedTable, "parts_dir", property(racing))
    got = EncodedTable(path).completed_parts()
    assert flipped == [old_dir]
    assert got == set(range(1, 10)) | {100}


def test_stream_offset_never_regresses_on_a_short_table_read(tmp_path, monkeypatch):
    path = _table(tmp_path)
    r = EncodedTableStreamReader(path, SCHEMA, None)
    r.initialOffset()
    assert r.latestOffset()["next"] == 10

    # one trigger sees no parts (a lineage read losing a race): the offset
    # it reports must not fall behind the one already reported
    real = EncodedTable.completed_parts
    monkeypatch.setattr(EncodedTable, "completed_parts", lambda self: set())
    assert r.latestOffset()["next"] == 10
    monkeypatch.setattr(EncodedTable, "completed_parts", real)

    EncodedTable(path)._append_parts({10: _row(10)})
    assert r.latestOffset()["next"] == 11
