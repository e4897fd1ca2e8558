"""Python DataSource API (sources/pyds.py): partition planning,
executor-side generation, streaming offsets."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.sources.pyds import (
    SyntheticEventsReader,
    register_python_datasource,
)


def test_partition_planning_covers_range_exactly():
    r = SyntheticEventsReader({"n": "1003", "parts": "8"})
    parts = r.partitions()
    assert len(parts) == 8
    covered = sorted((p.start, p.end) for p in parts)
    # contiguous, disjoint, exhaustive — the tail split keeps the odd rows
    assert covered[0][0] == 0 and covered[-1][1] == 1003
    for (a, b), (c, d) in zip(covered, covered[1:]):
        assert b == c and a < b


def test_batch_read_matches_formula(spark):
    register_python_datasource(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n", "300")
        .option("parts", "5")
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    rows = {r.id: (r.bucket, r.amount) for r in df.collect()}
    assert len(rows) == 300
    for i in (0, 17, 299):
        assert rows[i] == (i % 17, (i * 37 % 1000) / 100.0)


def test_stream_available_now_is_exactly_once(spark):
    register_python_datasource(spark)
    sdf = (
        spark.readStream.format("synthetic_events")
        .option("n", "250")
        .option("parts", "3")
        .load()
    )
    # distinct aggs are unsupported on streams — group BY id instead,
    # so duplication would surface as a group with n > 1
    q = (
        sdf.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("pyds_test_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive
    row = spark.sql(
        "SELECT count(*) AS n_ids, max(n) AS max_n FROM pyds_test_sink"
    ).collect()[0]
    # no loss, no duplication across the drained backlog
    assert row.n_ids == 250 and row.max_n == 1


def test_lakehouse_stream_refuses_non_append_history(spark, tmp_path):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )
    from dbx_workspace_and_emr_iceberg_spark.sources.pyds import (
        register_lakehouse_stream,
    )

    register_lakehouse_stream(spark)
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.coalesce(1))
    t.delete_where(F.col("n_nationkey") == 1)  # non-append snapshot

    q = (
        spark.readStream.format("lakehouse_stream")
        .option("table_root", t.root)
        .load()
        .writeStream.format("memory")
        .queryName("pyds_nonappend_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        with _pytest.raises(Exception, match="append-only|non-append"):
            q.awaitTermination(120)
            if q.exception() is not None:
                raise q.exception()
    finally:
        # on regression the stream would still be live against the
        # session-scoped fixture — never leak it into later tests
        if q.isActive:
            q.stop()


def test_lakehouse_stream_resolves_main_head_not_raw_log(spark, tmp_path):
    """A WAP branch write stages a snapshot at the raw log head whose
    manifest carries the branch-BASE schema; the stream source's
    schema()/latestOffset must resolve through the MAIN head or a
    (re)starting stream silently drops columns added on main since the
    branch was cut (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        main_head_json,
    )
    from dbx_workspace_and_emr_iceberg_spark.sources.pyds import (
        LakehouseStreamDataSource,
    )

    t = LakehouseTable(spark, str(tmp_path), "st")
    t.create(spark.createDataFrame([(1, 10)], "id long, v long"))  # v1
    t.create_branch("aud")  # at v1 (schema id, v)
    t.add_column("w", "string")  # v2: main schema gains w
    t.write_to_branch(
        "aud", spark.createDataFrame([(9, 90)], "id long, v long")
    )  # v3 STAGED, carries the v1 schema
    assert main_head_json(t.root) == 2
    ds = LakehouseStreamDataSource(options={"table_root": t.root})
    assert [f.name for f in ds.schema().fields] == ["id", "v", "w"]
    reader = ds.streamReader(ds.schema())
    assert reader.latestOffset() == {"version": 2}


def test_lakehouse_stream_batches_match_table_values(spark, tmp_path):
    """The stream source yields Arrow batches in the reader's schema
    whose values equal ``read()``'s, for ``timestamp`` files written as
    INT96 and as int64, ``timestamp_ntz`` and ``date``."""
    import datetime

    import pyarrow as pa

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )
    from dbx_workspace_and_emr_iceberg_spark.sources.pyds import (
        LakehouseStreamDataSource,
        _FilePartition,
        register_lakehouse_stream,
    )
    from tests.conftest import int96_timestamps, ts_physical_type

    def rows(days):
        return spark.createDataFrame(
            [
                (
                    datetime.datetime(2024, 1, d, 6, 30, 15, 500000),
                    datetime.datetime(2024, 1, d, 7),
                    datetime.date(2024, 1, d),
                    d,
                )
                for d in days
            ],
            "ts timestamp, tn timestamp_ntz, d date, i long",
        ).coalesce(1)

    t = LakehouseTable(spark, str(tmp_path), "tt")
    with int96_timestamps(spark):
        t.create(rows((1, 2, 3)))
    t.append(rows((4, 5, 6)))
    files = t._files()
    assert [ts_physical_type(f) for f in files] == ["INT96", "INT64"]

    ds = LakehouseStreamDataSource(options={"table_root": t.root})
    reader = ds.streamReader(ds.schema())
    for f in files:
        batches = list(reader.read(_FilePartition(f)))
        assert batches and all(
            isinstance(b, pa.RecordBatch) and b.schema == reader.arrow_schema
            for b in batches
        )

    register_lakehouse_stream(spark)
    q = (
        spark.readStream.format("lakehouse_stream")
        .option("table_root", t.root)
        .load()
        .writeStream.format("memory")
        .queryName("pyds_time_types_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        assert q.exception() is None
    finally:
        if q.isActive:
            q.stop()
    cols = "ts, tn, d, i"
    got = sorted(spark.sql(f"SELECT {cols} FROM pyds_time_types_sink").collect())
    want = sorted(t.read().selectExpr(*cols.split(", ")).collect())
    assert len(got) == 6 and got == want
