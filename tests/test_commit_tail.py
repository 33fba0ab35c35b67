"""One commit tail: every writer that stages parts (encode waves, the
Catalyst writer, compaction, small-part rewrites and every copy-on-write
or merge-on-read DML) commits through ``EncodedTable.commit_staging`` --
one rename into ``data/``, one part-set flip, one retention sweep."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_output_s3_parquet_spark.jobs import (
    compact_job,
    decode_job,
    delete_job,
    encode_job,
    encode_parquet_job,
    merge_job,
    rewrite_small_parts,
    update_job,
    verify_table,
)
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

ROWS = 10_000
POLICY = CodecPolicy(target_partition_bytes=1 << 16, chunk_rows=1024)


def _frame(spark, lo: int = 0, hi: int = ROWS):
    return spark.range(lo, hi, 1, 4).select(
        F.col("id"),
        (F.col("id") % 7).alias("g"),
        F.col("id").cast("string").alias("s"),
    )


def test_compaction_replay_keeps_rows_once(spark, tmp_path):
    """compact_job retires every id it replaces: replaying the original
    encode wave afterwards (streaming replay / batch re-run) must skip
    them instead of re-encoding the whole input a second time."""
    path = str(tmp_path / "t")
    df = _frame(spark)
    encode_job(spark, df, path, POLICY, if_exists="error")
    old = EncodedTable(path).completed_parts()
    assert len(old) > 1

    compact_job(spark, path)
    t = EncodedTable(path)
    assert old <= t.retired_parts()
    assert not old & t.completed_parts()

    encode_job(spark, df, path, POLICY, if_exists="skip")
    assert decode_job(spark, path).count() == ROWS
    assert verify_table(spark, path) == []


def test_every_writer_commits_once_through_commit_staging(
    spark, tmp_path, monkeypatch
):
    calls: list[dict] = []
    orig = EncodedTable.commit_staging

    def counted(self, staging_dir, lineage_rows, **kw):
        calls.append(kw)
        return orig(self, staging_dir, lineage_rows, **kw)

    monkeypatch.setattr(EncodedTable, "commit_staging", counted)

    def once(label, fn):
        calls.clear()
        fn()
        assert len(calls) == 1, (label, calls)
        return calls[0]

    path = str(tmp_path / "t")
    df = _frame(spark)
    kw = once("encode", lambda: encode_job(spark, df, path, POLICY))
    assert "replace" not in kw

    src = str(tmp_path / "src.parquet")
    df.write.parquet(src)
    once(
        "encode_parquet",
        lambda: encode_parquet_job(spark, src, str(tmp_path / "direct"), POLICY),
    )

    assert once("compact", lambda: compact_job(spark, path))["replace"]
    once(
        "rewrite_small_parts",
        lambda: rewrite_small_parts(spark, path, min_part_bytes=1 << 30),
    )
    once("delete cow", lambda: delete_job(spark, path, ("id", "==", 5)))
    for i, mode in enumerate(("cow", "mor")):
        kw = once(
            f"update {mode}",
            lambda: update_job(
                spark, path, ("id", "==", 6), {"g": "g + 100"}, mode=mode
            ),
        )
        assert (kw["replace"] == set()) == (mode == "mor")
        # 5 matched keys + 3 new ones per merge
        upsert = _frame(spark, 10 * (i + 1), 10 * (i + 1) + 5).unionByName(
            _frame(spark, ROWS + 10 * i, ROWS + 10 * i + 3)
        )
        once(
            f"merge {mode}",
            lambda: merge_job(spark, path, upsert, on=["id"], mode=mode),
        )

    # a Catalyst save commits from a separate Python worker, so the
    # writer's driver-side commit() is driven in this process instead:
    # an append onto a table created by a real save
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableArrowWriter,
        EncodedTableDataSource,
    )

    cat = str(tmp_path / "cat")
    spark.dataSource.register(EncodedTableDataSource)
    df.write.format("enctable").mode("append").save(cat)
    w = EncodedTableArrowWriter(cat, df.schema, {}, overwrite=False)
    msg = w.write(iter(_frame(spark, ROWS, ROWS + 50).toArrow().to_batches()))
    assert once("catalyst save", lambda: w.commit([msg]))["offset"] > 0
    assert decode_job(spark, cat).count() == ROWS + 50

    assert decode_job(spark, path).count() == ROWS - 1 + 6
    for p in (path, cat):
        assert verify_table(spark, p) == []
