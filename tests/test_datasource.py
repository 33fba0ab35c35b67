"""sources/datasource.py: the enctable Python DataSource V2.

Catalyst-facing integration: schema from the manifest, partitions from the
committed part dirs, filter pushdown into zone conjuncts (may-match: every
filter is also re-applied by Spark), and the columns option for projection
pruning (the Python DS API has no column-pruning hook in 4.1)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    IsNull,
    LessThan,
    StringContains,
    StringStartsWith,
)

from embulk_output_s3_parquet_spark.jobs import encode_job
from embulk_output_s3_parquet_spark.plans.policy import CodecPolicy
from embulk_output_s3_parquet_spark.sources.datasource import (
    EncodedTableDataSource,
    EncodedTableReader,
    filter_to_conjunct,
)


@pytest.fixture(scope="module")
def enc_docs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ds") / "docs")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    encode_job(
        spark, docs, path, CodecPolicy(chunk_rows=64), if_exists="error",
        cluster_by=["n_chars"],
    )
    spark.dataSource.register(EncodedTableDataSource)
    return path, docs


def test_filter_translation():
    names = {"a", "n"}
    assert filter_to_conjunct(GreaterThanOrEqual(("n",), 5), names) == ("n", ">=", 5)
    assert filter_to_conjunct(LessThan(("n",), 5), names) == ("n", "<", 5)
    assert filter_to_conjunct(EqualTo(("a",), "x"), names) == ("a", "==", "x")
    assert filter_to_conjunct(EqualTo(("zz",), 1), names) is None  # unknown col
    assert filter_to_conjunct(IsNotNull(("n",)), names) == ("n", "notnull", None)
    assert filter_to_conjunct(IsNull(("n",)), names) == ("n", "isnull", None)
    assert filter_to_conjunct(In(("n",), (1, 2, 3)), names) == ("n", "in", [1, 2, 3])
    assert filter_to_conjunct(StringStartsWith(("a",), "py"), names) == (
        "a", "startswith", "py",
    )
    assert filter_to_conjunct(StringContains(("a",), "x"), names) is None


def test_push_filters_collects_conjuncts_and_returns_all(spark, enc_docs):
    path, _ = enc_docs
    schema = spark.read.format("enctable").load(path).schema
    reader = EncodedTableReader(path, schema, None)
    filters = [GreaterThanOrEqual(("n_chars",), 450), IsNotNull(("lang",))]
    leftover = list(reader.pushFilters(filters))
    assert leftover == filters  # may-match: Spark must re-apply everything
    assert reader._conjuncts == [("n_chars", ">=", 450), ("lang", "notnull", None)]
    assert len(reader.partitions()) >= 1


def test_dataframe_and_sql_reads_match_plain_table(spark, enc_docs):
    path, docs = enc_docs
    df = spark.read.format("enctable").load(path)
    assert df.count() == docs.count()
    got = df.filter(F.col("n_chars") >= 450).select("doc_id").orderBy("doc_id").collect()
    want = docs.filter(F.col("n_chars") >= 450).select("doc_id").orderBy("doc_id").collect()
    assert got == want
    df.createOrReplaceTempView("enc_docs_v")
    got2 = spark.sql(
        "select lang, count(*) c from enc_docs_v where n_chars >= 450 "
        "group by lang order by lang"
    ).collect()
    want2 = (
        docs.filter("n_chars >= 450").groupBy("lang").count()
        .withColumnRenamed("count", "c").orderBy("lang").collect()
    )
    assert got2 == want2


def test_columns_option_prunes_schema(spark, enc_docs):
    path, docs = enc_docs
    df = spark.read.format("enctable").option("columns", "doc_id,lang").load(path)
    assert [f.name for f in df.schema.fields] == ["doc_id", "lang"]
    assert df.count() == docs.count()
    with pytest.raises(Exception, match="unknown columns"):
        spark.read.format("enctable").option("columns", "nope").load(path).count()


def _drain(spark, table, out_dir, chk):
    q = (
        spark.readStream.format("enctable")
        .load(table)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False on timeout WITHOUT raising; on a
    # contended box a 120s drain can still be mid-batch, and the caller's
    # count assertion would then fail looking like a correctness bug
    if not q.awaitTermination(600):
        q.stop()
        raise AssertionError("enctable stream drain did not finish in 600s")


def test_stream_source_tails_appended_parts(spark, tmp_path):
    """readStream over an encoded table: the first drain sees every
    committed part; appending a second wave (the streaming sink's
    part_base-strided append) and draining again delivers ONLY the new
    rows (offset = max part_id + 1, parts are immutable)."""
    from embulk_output_s3_parquet_spark.streaming.encode_stream import PART_STRIDE

    table = str(tmp_path / "t")
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pol = CodecPolicy(chunk_rows=64)
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)

    encode_job(spark, wave1, table, pol, if_exists="error")
    spark.dataSource.register(EncodedTableDataSource)
    _drain(spark, table, out_dir, chk)
    assert spark.read.parquet(out_dir).count() == wave1.count()

    encode_job(spark, wave2, table, pol, if_exists="skip", part_base=PART_STRIDE)
    _drain(spark, table, out_dir, chk)
    got = spark.read.parquet(out_dir)
    assert got.count() == docs.count()
    assert got.select(F.sum("n_chars")).first()[0] == docs.select(F.sum("n_chars")).first()[0]

    # idempotent re-drain: no new parts, no new rows
    _drain(spark, table, out_dir, chk)
    assert spark.read.parquet(out_dir).count() == docs.count()


def test_stream_source_detects_compaction(spark, tmp_path):
    """A parts_gen bump (compaction rewrote parts) must fail the stream
    loudly instead of silently replaying rewritten data."""
    from embulk_output_s3_parquet_spark.jobs import compact_job
    from embulk_output_s3_parquet_spark.streaming.encode_stream import PART_STRIDE

    table = str(tmp_path / "t2")
    out_dir, chk = str(tmp_path / "out2"), str(tmp_path / "chk2")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pol = CodecPolicy(chunk_rows=64)
    encode_job(spark, docs, table, pol, if_exists="error")
    spark.dataSource.register(EncodedTableDataSource)
    _drain(spark, table, out_dir, chk)

    # compaction rewrites parts under new ids; a later append then plans a
    # batch whose checkpointed start offset belongs to the OLD generation --
    # delivering it would replay rewritten rows, so the source must fail
    compact_job(spark, table)
    encode_job(spark, docs.limit(10), table, pol, if_exists="skip", part_base=2 * PART_STRIDE)
    q = (
        spark.readStream.format("enctable")
        .load(table)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    # on a contended box the poisoned batch can take >120s to even start;
    # poll for the stream's failure instead of racing a fixed await
    with pytest.raises(Exception, match="compacted|parts_gen"):
        deadline = time.time() + 600
        while True:
            try:
                done = q.awaitTermination(10)
            except Exception:
                raise
            if q.exception() is not None:
                raise q.exception()
            if done:
                raise AssertionError("stream finished cleanly; expected generation-guard failure")
            if time.time() > deadline:
                q.stop()
                raise AssertionError("stream neither failed nor finished in 600s")


def test_in_and_null_filters_end_to_end(spark, enc_docs):
    """isin / isNotNull / startswith through Catalyst -> pushFilters ->
    zone + null-count pruning, results identical to the plain table."""
    path, docs = enc_docs
    df = spark.read.format("enctable").load(path)
    for q in (
        lambda d: d.filter(F.col("lang").isin("en", "zh")).select("doc_id", "lang"),
        lambda d: d.filter(F.col("lang").isNotNull() & F.col("lang").startswith("e")).select("doc_id"),
    ):
        got = sorted(q(df).collect())
        want = sorted(q(docs).collect())
        assert got == want and len(got) > 0


def test_null_filters_end_to_end(spark, tmp_path):
    """isNull/isNotNull over a table with null-bearing chunks: null-count
    pruning must never change results vs the source frame."""
    table = str(tmp_path / "nullable")
    src = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"v{i}") for i in range(64)], "id long, v string"
    )
    encode_job(spark, src, table, CodecPolicy(chunk_rows=8), if_exists="error")
    df = spark.read.format("enctable").load(table)
    for q in (
        lambda d: d.filter(F.col("v").isNull()).select("id"),
        lambda d: d.filter(F.col("v").isNotNull()).select("id", "v"),
    ):
        got = sorted(q(df).collect())
        want = sorted(q(src).collect())
        assert got == want and len(got) > 0


def test_catalyst_write_path(spark, tmp_path):
    """df.write.format("enctable"): the writer produces a table
    indistinguishable from encode_job output -- decode_job, pyreader,
    verify_table (sha lineage audit), count_job, and the enctable reader
    all work on it; overwrite recreates, append-to-existing appends under
    freshly minted part ids."""
    from embulk_output_s3_parquet_spark.jobs import count_job, decode_job, verify_table
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table, read_table

    spark.dataSource.register(EncodedTableDataSource)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "w")
    (
        docs.repartition(4).write.format("enctable").mode("append")
        .option("chunk_rows", "64")
        .option("bloom_columns", "lang")
        .option("cluster_by", "n_chars")
        .save(path)
    )
    out = decode_job(spark, path)
    assert out.count() == docs.count()
    assert (
        out.groupBy().sum("n_chars").first() == docs.groupBy().sum("n_chars").first()
    )
    assert read_table(path).num_rows == docs.count()
    assert verify_table(spark, path) == []  # sha lineage audit green
    assert count_job(spark, path, where=("lang", "==", "en")) == docs.filter(
        F.col("lang") == "en"
    ).count()
    # cluster_by applied per batch: a range count resolves mostly metadata-only
    st = {}
    count_table(path, where=("n_chars", ">=", 450), scan_stats=st)
    assert st["chunks_decoded"] < st["chunks_total"]
    # round-trip through the reader face too
    df2 = spark.read.format("enctable").load(path)
    assert df2.count() == docs.count()

    docs.limit(10).write.format("enctable").mode("overwrite").save(path)
    assert decode_job(spark, path).count() == 10
    # true append: new parts join the live set, nothing rewritten
    docs.limit(25).coalesce(2).write.format("enctable").mode("append").save(path)
    assert decode_job(spark, path).count() == 35
    assert verify_table(spark, path) == []
    # appending a mismatched schema is refused before any data moves
    with pytest.raises(Exception, match="append schema mismatch"):
        docs.select("doc_id", "text").write.format("enctable").mode(
            "append"
        ).save(path)


def test_writer_empty_dataframe_overwrite_safe(spark, tmp_path):
    """An all-empty write must commit an empty part set (not crash after
    overwrite already dropped the old table)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "empty")
    docs.limit(5).write.format("enctable").mode("append").save(path)
    docs.filter(F.lit(False)).write.format("enctable").mode("overwrite").save(path)
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    t = read_table(path)
    assert t.num_rows == 0
    assert set(t.schema.names) == set(docs.columns)


def test_writer_commit_drops_stale_attempt_files(spark, tmp_path):
    """Task-retry/speculation safety: commit() must keep only the ONE file
    each part's commit message names; a dead attempt's leftover file in the
    same staging part dir is removed, never committed as duplicate rows."""
    import glob as _glob
    import os
    import shutil

    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableArrowWriter,
        _PartCommit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    path = str(tmp_path / "retry")
    w = EncodedTableArrowWriter(path, docs.schema, {}, overwrite=False)
    batches = docs.toArrow().to_batches()
    msg = w.write(iter(batches))
    # simulate a failed attempt's leftover: copy the real file under a new name
    pdir = os.path.join(w._staging, f"part_id={msg.part_id}")
    real = os.path.join(pdir, msg.filename)
    shutil.copy(real, os.path.join(pdir, "part-deadbeefdead.parquet"))
    # and a whole part dir no message claims
    ghost = os.path.join(w._staging, "part_id=999")
    os.makedirs(ghost)
    shutil.copy(real, os.path.join(ghost, "part-ghost.parquet"))
    w.commit([msg])

    from embulk_output_s3_parquet_spark.jobs import decode_job, verify_table

    assert decode_job(spark, path).count() == 50  # no duplicated rows
    assert verify_table(spark, path) == []
    files = _glob.glob(os.path.join(path, "data", "part_id=*", "*.parquet"))
    assert len(files) == 1 and os.path.basename(files[0]) == msg.filename


def test_writer_cluster_by_sorts_whole_partition(spark, tmp_path):
    """cluster_by must sort the WHOLE partition before chunking -- chunk
    zones become disjoint ranges even when rows arrive in many batches."""
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "clw")
    (
        docs.coalesce(1).write.format("enctable").mode("append")
        .option("chunk_rows", "64").option("cluster_by", "n_chars").save(path)
    )
    st = {}
    want = docs.filter(F.col("n_chars") >= 450).count()
    assert count_table(path, where=("n_chars", ">=", 450), scan_stats=st) == want
    # one partition, sorted: at most ~2 boundary chunks decode
    assert st.get("chunks_decoded", 0) <= 2, st


def test_bloom_fires_without_zone(spark, tmp_path):
    """Blooms must prune even when the column has NO zone map (binary /
    >64-char strings -- the keys blooms exist for)."""
    from embulk_output_s3_parquet_spark.sources.pyreader import read_table

    src = spark.createDataFrame(
        [(i, f"key-{'x' * 80}-{i:05d}") for i in range(256)], "id long, k string"
    )
    path = str(tmp_path / "bk")
    encode_job(
        spark, src, path,
        CodecPolicy(chunk_rows=16, bloom_columns=("k",)), if_exists="error",
    )
    st = {}
    probe = f"key-{'x' * 80}-00123"
    t = read_table(path, columns=["id", "k"], where=("k", "==", probe), scan_stats=st)
    import pyarrow.compute as pc

    assert t.filter(pc.equal(t.column("k"), probe)).num_rows == 1
    assert st["chunks_skipped"] > st["chunks_total"] * 0.5, st


def test_overwrite_is_kill_safe(spark, tmp_path):
    """mode('overwrite') must not touch the old table until commit(): a
    writer that dies before commit leaves the previous data fully intact."""
    from embulk_output_s3_parquet_spark.jobs import decode_job
    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTableArrowWriter,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "ks")
    docs.write.format("enctable").mode("append").save(path)
    before = decode_job(spark, path).count()

    # simulate a dying overwrite: init + one task write, then abort
    w = EncodedTableArrowWriter(path, docs.schema, {}, overwrite=True)
    msg = w.write(iter(docs.limit(7).toArrow().to_batches()))
    w.abort([msg])
    assert decode_job(spark, path).count() == before  # old table untouched

    # and a completed overwrite still replaces it
    docs.limit(7).write.format("enctable").mode("overwrite").save(path)
    assert decode_job(spark, path).count() == 7


def test_count_literal_coercion_boundary_chunks(spark, tmp_path):
    """Exact boundary evaluation must accept the same literal shapes the
    zone layer does: ISO strings vs timestamp columns, floats vs decimals
    (review finding: pa.scalar raised ArrowTypeError on boundary chunks)."""
    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import count_job
    from embulk_output_s3_parquet_spark.sources.pyreader import count_table

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast(T.DecimalType(12, 2)).alias("dec"),
    )
    path = str(tmp_path / "lit")
    encode_job(spark, ev, path, CodecPolicy(chunk_rows=64), if_exists="error")
    cut = ev.selectExpr("percentile(unix_micros(ts), 0.5)").first()[0]
    import datetime as dt

    cut_dt = dt.datetime.fromtimestamp(cut / 1e6, dt.timezone.utc)
    iso = cut_dt.replace(tzinfo=None).isoformat()
    want_ts = ev.filter(F.col("ts") >= F.lit(cut_dt)).count()
    assert count_job(spark, path, where=("ts", ">=", iso)) == want_ts
    assert count_table(path, where=("ts", ">=", iso)) == want_ts
    want_dec = ev.filter(F.col("dec") >= 50).count()
    assert count_job(spark, path, where=("dec", ">=", 50.0)) == want_dec
    assert count_table(path, where=("dec", ">=", "50.00")) == want_dec


def test_detect_pushdown_by_worker_module():
    """The conf detector identifies Spark's read-planning worker by module
    FILE NAME on the public traceback stack (no private locals): running the
    probe from a code object compiled with each worker's path simulates the
    worker stack bit-for-bit, because traceback reports the code object's
    filename. Unknown stacks fall through (session conf / None)."""
    from embulk_output_s3_parquet_spark.sources.datasource import (
        _detect_filter_pushdown,
    )

    def probe_as(filename):
        ns = {"_detect_filter_pushdown": _detect_filter_pushdown}
        code = compile("out = _detect_filter_pushdown()", filename, "exec")
        exec(code, ns)
        return ns["out"]

    assert probe_as(
        "/sp/python/pyspark/sql/worker/data_source_pushdown_filters.py"
    ) is True
    assert probe_as("/sp/python/pyspark/sql/worker/plan_data_source_read.py") is False
    # a renamed worker: detection falls through to the session conf
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    renamed = "/sp/python/pyspark/sql/worker/somewhere_else.py"
    if s is None:
        assert probe_as(renamed) is None
    else:
        conf_key = "spark.sql.python.filterPushdown.enabled"
        saved = s.conf.get(conf_key, "false")
        try:
            s.conf.set(conf_key, "false")
            assert probe_as(renamed) is False
            s.conf.set(conf_key, "true")
            assert probe_as(renamed) is True
        finally:
            s.conf.set(conf_key, saved)


def test_reader_degrades_when_pushdown_conf_off(spark, enc_docs):
    """Spark 4.1 hard-errors on a Python reader exposing pushFilters when
    spark.sql.python.filterPushdown.enabled is false
    (DATA_SOURCE_PUSHDOWN_DISABLED). The DataSource must stay AVAILABLE in
    that state: reader() returns a pushFilters-free EncodedTablePlainReader
    and queries answer exactly (pruning is an optimization, not semantics)."""
    path, docs = enc_docs
    conf_key = "spark.sql.python.filterPushdown.enabled"
    saved = spark.conf.get(conf_key, "false")
    try:
        spark.conf.set(conf_key, "false")
        df = spark.read.format("enctable").load(path)
        got = (
            df.filter(F.col("n_chars") >= 450)
            .select("doc_id").orderBy("doc_id").collect()
        )
        want = (
            docs.filter(F.col("n_chars") >= 450)
            .select("doc_id").orderBy("doc_id").collect()
        )
        assert got == want
        spark.conf.set(conf_key, "true")
        got_on = (
            spark.read.format("enctable").load(path)
            .filter(F.col("n_chars") >= 450)
            .select("doc_id").orderBy("doc_id").collect()
        )
        assert got_on == want
    finally:
        spark.conf.set(conf_key, saved)


def test_reader_class_selection_by_conf(spark, enc_docs):
    """Driver-side construction path: reader() picks the pushdown subclass
    only when the active session's conf allows it (or an explicit
    .option('pushdown', ...) overrides)."""
    from pyspark.sql.datasource import CaseInsensitiveDict

    from embulk_output_s3_parquet_spark.sources.datasource import (
        EncodedTablePlainReader,
    )

    path, _ = enc_docs
    schema = spark.read.format("enctable").load(path).schema
    conf_key = "spark.sql.python.filterPushdown.enabled"
    saved = spark.conf.get(conf_key, "false")

    def mk(**opts):
        ds = EncodedTableDataSource(CaseInsensitiveDict({"path": path, **opts}))
        return ds.reader(schema)

    try:
        spark.conf.set(conf_key, "false")
        from pyspark.sql.datasource import DataSourceReader

        r = mk()
        assert type(r) is EncodedTablePlainReader
        # Spark's gate: an OVERRIDDEN pushFilters trips the conf error
        assert r.pushFilters.__func__ is DataSourceReader.pushFilters
        spark.conf.set(conf_key, "true")
        assert type(mk()) is EncodedTableReader
        # explicit option force-disables regardless of conf
        assert type(mk(pushdown="false")) is EncodedTablePlainReader
        # but option 'true' cannot override a DETECTED conf-off (ADVICE r4):
        # the pushFilters reader with the conf off is a hard
        # DATA_SOURCE_PUSHDOWN_DISABLED init error, so the safe reader wins
        spark.conf.set(conf_key, "false")
        assert type(mk(pushdown="true")) is EncodedTablePlainReader
    finally:
        spark.conf.set(conf_key, saved)


def test_writer_zorder_option(spark, tmp_path):
    """.option('zorder','true') with cluster_by: the Catalyst writer lays
    each task partition on a Morton curve, so chunk zones are tight in both
    clustered dimensions and reads through the same format stay exact."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20000, 1, 2).select(
        F.pmod(F.xxhash64("id"), F.lit(100000)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(100000)).alias("y"),
        F.col("id"),
    )
    spark.dataSource.register(EncodedTableDataSource)
    path = str(tmp_path / "wzo")
    (
        df.write.format("enctable").mode("append")
        .option("cluster_by", "x,y").option("zorder", "true")
        .option("chunk_rows", "128").save(path)
    )
    back = spark.read.format("enctable").load(path)
    assert back.count() == 20000
    a = back.selectExpr("sum(crc32(concat_ws('|', x, y, id))) h").first()[0]
    b = df.selectExpr("sum(crc32(concat_ws('|', x, y, id))) h").first()[0]
    assert a == b
    # second-dimension pruning bites through the job-API reader too
    from embulk_output_s3_parquet_spark.jobs import decode_job
    from embulk_output_s3_parquet_spark.operators.decode import scan_counters

    ctr = scan_counters(spark)
    decode_job(spark, path, where=("y", ">=", 95000), counters=ctr).count()
    assert ctr["chunks_skipped"].value / max(ctr["chunks_total"].value, 1) >= 0.5
    # the layout kind is recorded, so maintenance re-applies the Z-curve
    # instead of silently de-zordering the table
    from embulk_output_s3_parquet_spark.jobs import compact_job
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    props = EncodedTable(path).properties()
    assert props.get("write-order") == ["x", "y"]
    assert props.get("write-order-zorder") is True
    compact_job(spark, path)
    props = EncodedTable(path).properties()
    assert props.get("write-order") == ["x", "y"]
    assert props.get("write-order-zorder") is True


def test_catalyst_append_to_evolved_table(spark, tmp_path):
    """mode("append") on a renamed/added table: the writer demands the
    CURRENT schema, minted part ids stay above retired tombstones, and a
    mismatched (pre-evolution) frame is refused."""
    from pyspark.sql import types as T

    from embulk_output_s3_parquet_spark.jobs import (
        count_job,
        decode_job,
        delete_job,
        verify_table,
    )
    from embulk_output_s3_parquet_spark.sources.tables import EncodedTable

    spark.dataSource.register(EncodedTableDataSource)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "appev")
    docs.repartition(4).write.format("enctable").mode("append").option(
        "chunk_rows", "64"
    ).save(path)
    t = EncodedTable(path)
    t.rename_column("lang", "language")
    t.add_column("score", T.DoubleType())
    delete_job(spark, path, ("doc_id", "<", 10))  # retires part ids
    n_live = decode_job(spark, path).count()

    # the OLD spelling is refused; the current schema appends fine
    with pytest.raises(Exception, match="append schema mismatch"):
        docs.limit(3).write.format("enctable").mode("append").save(path)
    extra = (
        docs.limit(3)
        .withColumnRenamed("lang", "language")
        .withColumn("score", F.lit(1.5))
        .select([f.name for f in t.schema().fields])
    )
    extra.coalesce(1).write.format("enctable").mode("append").save(path)

    assert decode_job(spark, path).count() == n_live + 3
    assert count_job(spark, path, ("score", "notnull", None)) == 3
    assert verify_table(spark, path) == []
    # minted ids live above every committed + retired id (never reused)
    live = set(t.lineage())
    assert max(live) > max(t.retired_parts() | set())
    # a clustered table appended without that order drops the table-wide
    # write-order claim (zones still prune per part)
    path2 = str(tmp_path / "order")
    docs.write.format("enctable").mode("append").option(
        "cluster_by", "doc_id"
    ).save(path2)
    assert EncodedTable(path2).properties().get("write-order") == ["doc_id"]
    docs.limit(5).write.format("enctable").mode("append").save(path2)
    assert EncodedTable(path2).properties().get("write-order") is None
