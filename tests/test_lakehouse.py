"""Direct unit tests for the snapshot table layer — edge cases the
lifecycle queries don't isolate (SURVEY.md §5 strategy: self-verifying
DML + unit coverage of the commit protocol)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
    ConflictError,
    LakehouseTable,
    partition_transform,
)
from dbx_workspace_and_emr_iceberg_spark.tables import load_table

from tests.conftest import SF_DIR


@pytest.fixture()
def wh():
    d = tempfile.mkdtemp(prefix="lh_unit_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_create_twice_rejected(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region"))
    with pytest.raises(ValueError, match="already exists"):
        t.create(load_table(spark, SF_DIR, "region"))


def test_noop_delete_commits_nothing(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region"))
    v_before = t.current_version()
    v_after = t.delete_where(F.col("r_regionkey") > 999)
    assert v_after == v_before, "no-op delete must not create a snapshot"


def test_overwrite_replaces_files(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region"))
    old_files = set(t._files())
    t.overwrite(load_table(spark, SF_DIR, "nation"))
    assert set(t._files()).isdisjoint(old_files)
    assert t.read().count() == 25
    # time travel still sees the pre-overwrite data
    assert t.read(version=1).count() == 5


def test_stale_writer_conflict(spark, wh):
    t1 = LakehouseTable(spark, wh, "t")
    t1.create(load_table(spark, SF_DIR, "region").coalesce(1))
    t2 = LakehouseTable(spark, wh, "t")  # second writer, same table
    t1.append(load_table(spark, SF_DIR, "region").limit(1).coalesce(1))
    with pytest.raises(ConflictError):
        t2._commit({"files": t2._files(), "schema": t2.schema_json(), "op": "x"}, 1)


def test_empty_table_read_has_schema(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(load_table(spark, SF_DIR, "region").coalesce(1))
    t.delete_where(F.lit(True))
    df = t.read()
    assert df.count() == 0
    assert df.columns == ["r_regionkey", "r_name"]


def test_partition_transform_parsing(spark):
    name, _ = partition_transform("days(ts)")
    assert name == "p_days_ts"
    name, _ = partition_transform("bucket(16, user_id)")
    assert name == "p_bucket_user_id"
    name, _ = partition_transform("truncate(3, p_brand)")
    assert name == "p_trunc_p_brand"
    with pytest.raises(ValueError):
        partition_transform("spiral(ts)")


def test_expired_snapshot_files_deleted(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    reg = load_table(spark, SF_DIR, "region").coalesce(1)
    t.create(reg)
    t.overwrite(load_table(spark, SF_DIR, "nation").coalesce(1))
    v1_files = t._read_manifest(1)["files"]
    t.expire_snapshots(keep_last=1)
    assert all(not os.path.exists(f) for f in v1_files), "orphan files not removed"
    assert t.read().count() == 25, "current snapshot intact"


def test_incremental_empty_range(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    v = t.create(load_table(spark, SF_DIR, "region"))
    assert t.read_incremental(v, v).count() == 0


def test_changelog_skips_metadata_only_commits(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    v1 = t.create(load_table(spark, SF_DIR, "region"))
    v2 = t.add_column("note", "string")
    chg = t.changelog(v1, v2)
    assert chg.count() == 0
    assert "_change_type" in chg.columns


def test_changelog_overwrite_is_full_diff(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    reg = load_table(spark, SF_DIR, "region")
    v1 = t.create(reg)
    v2 = t.overwrite(reg.filter(F.col("r_regionkey") < 2))
    chg = t.changelog(v1, v2)
    n_del = chg.filter(F.col("_change_type") == "DELETE").count()
    n_ins = chg.filter(F.col("_change_type") == "INSERT").count()
    # overwrite rewrote all 5 rows into files keeping only 2: net -3
    assert n_del - n_ins == 3


def test_rewrite_sorted_preserves_rows(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    nat = load_table(spark, SF_DIR, "nation")
    t.create(nat.repartition(4, "n_name"))
    t.rewrite_sorted("n_nationkey", target_files=4)
    got = t.read()
    assert got.exceptAll(nat).count() == 0 and nat.exceptAll(got).count() == 0


# --- regression tests: round-2 advisor findings ----------------------------


def test_delete_where_keeps_null_predicate_rows(spark, wh):
    """SQL DELETE removes rows where cond is TRUE only; a NULL predicate
    must keep the row (NOT NULL => NULL would silently drop it)."""
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 3), (4, None)], "id int, score int"
    ).coalesce(1)
    t = LakehouseTable(spark, wh, "t")
    t.create(df)
    t.delete_where(F.col("score") > 5)  # TRUE only for id=1
    left = {r.id for r in t.read().collect()}
    assert left == {2, 3, 4}, f"NULL-predicate rows must survive, got {left}"


def test_merge_preserves_null_key_target_rows(spark, wh):
    """A pre-existing target row whose merge-key column is NULL is not
    matched by any source row and must pass through unchanged (key-
    nullability classification would corrupt or delete it)."""
    tgt = spark.createDataFrame(
        [(1, "a"), (None, "keep_me")], "k int, v string"
    ).coalesce(1)
    src = spark.createDataFrame([(1, "updated"), (7, "new")], "k int, v string")
    t = LakehouseTable(spark, wh, "t")
    t.create(tgt)
    t.merge_into(
        src, on="k", update_cols={"v": F.col("__src").getField("v")}, insert=True
    )
    rows = {(r.k, r.v) for r in t.read().collect()}
    assert rows == {(1, "updated"), (None, "keep_me"), (7, "new")}, rows


def test_merge_rejects_duplicate_source_keys(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1))
    dup_src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k int, v string"
    )
    with pytest.raises(ValueError, match="duplicate"):
        t.merge_into(dup_src, on="k")


def test_partitioned_read_honors_manifest_after_dml(spark, wh):
    """Copy-on-write DML on a partitioned table leaves stale files on
    disk until expiry; read() must follow the manifest file list, not
    the directory listing, or deleted rows resurrect."""
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id"
    ).filter(F.col("event_id") % 7 == 0)
    t = LakehouseTable(spark, wh, "ev")
    t.create(ev, partition_by=["bucket(2, user_id)"])
    n0 = t.read().count()
    doomed = t.read().filter(F.col("event_id") % 14 == 0).count()
    assert doomed > 0
    t.delete_where(F.col("event_id") % 14 == 0)
    assert t.read().count() == n0 - doomed, "deleted rows resurrected from stale files"
    # time travel to the pre-delete snapshot still sees everything
    assert t.read(version=1).count() == n0


def test_snapshots_relation_survives_expiry(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    reg = load_table(spark, SF_DIR, "region").coalesce(1)
    t.create(reg)
    t.append(reg.limit(1))
    t.append(reg.limit(1))
    t.expire_snapshots(keep_last=1)
    vers = [r.version for r in t.snapshots().collect()]
    assert vers == [3], f"snapshots() must skip expired manifests, got {vers}"


def test_rest_catalog_conf_shape():
    """The REST+OAuth2 knobs the reference pins (main.tf:795-801) must
    all surface through iceberg_rest_catalog_conf — config-only, no
    jars needed to assert the contract."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        iceberg_rest_catalog_conf,
    )

    conf = iceberg_rest_catalog_conf(
        uri="https://catalog.example.com/api/rest",
        warehouse="wh_name",
        catalog="uc",
        credential="client-id:client-secret",
        oauth2_server_uri="https://auth.example.com/oauth/token",
        scope="catalog",
        token_refresh_enabled=True,
    )
    assert conf["spark.sql.catalog.uc.type"] == "rest"
    assert conf["spark.sql.catalog.uc.uri"].startswith("https://")
    assert conf["spark.sql.catalog.uc.credential"] == "client-id:client-secret"
    assert (
        conf["spark.sql.catalog.uc.oauth2-server-uri"]
        == "https://auth.example.com/oauth/token"
    )
    assert conf["spark.sql.catalog.uc.scope"] == "catalog"
    assert conf["spark.sql.catalog.uc.token-refresh-enabled"] == "true"
    assert conf["spark.sql.defaultCatalog"] == "uc"
    # secrets are caller-injected only: omitting them omits the keys
    minimal = iceberg_rest_catalog_conf(uri="u", warehouse="w")
    assert not any(k.endswith(".credential") for k in minimal)
    assert not any(k.endswith(".oauth2-server-uri") for k in minimal)


def _files_with_rows(spark, files, col, lo, hi):
    """The files holding a row with ``lo <= col < hi``, each read on
    its own: the brute-force scan set a sound pruned read must cover."""
    cond = (F.col(col) >= lo) & (F.col(col) < hi)
    return {f for f in files if not spark.read.parquet(f).filter(cond).isEmpty()}


def test_read_pruned_across_partition_evolution(spark, wh):
    """read_pruned must stay correct when the table holds files from
    MULTIPLE partition-spec eras: each file is judged by its own
    min/max (days-era files hold one day, months-era files span the
    month), so day-era files prune and month-era files that hold a
    matching row are kept."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-14 00:00:00").cast("timestamp"))
        )
    )
    half_a = ev.filter(F.col("event_id") % 2 == 0)
    half_b = ev.filter(F.col("event_id") % 2 == 1)

    t = LakehouseTable(spark, wh, "ev_evo")
    t.create(half_a, partition_by=["days(ts)"])
    t.evolve_partitioning(["months(ts)"])
    t.append(half_b)  # same time range, coarser layout

    lo, hi = "2024-01-11 00:00:00", "2024-01-12 00:00:00"
    got, kept, total = t.read_pruned("ts", lo, hi)
    n_scan, n_total = len(kept), len(total)
    # non-canonical but valid bound spellings must canonicalize, not
    # silently mis-compare and prune matching files
    _, kept2, _ = t.read_pruned("ts", "2024-01-11", "2024-01-12")
    _, kept3, _ = t.read_pruned("ts", "2024-01-11T00:00:00", "2024-01-12T00:00:00")
    assert kept2 == kept and kept3 == kept
    want = ev.filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    )
    assert want.count() > 0, "fixture drift: probed day empty"
    assert got.count() == want.count()
    assert {r.event_id for r in got.collect()} == {
        r.event_id for r in want.collect()
    }
    # pruning still bites: the days-era contributes only day-11 files,
    # while every months-era file holding a day-11 row must be kept
    assert _files_with_rows(spark, total, "ts", lo, hi) <= set(kept)
    assert n_scan < n_total, f"no pruning across eras: {n_scan}/{n_total}"


def test_get_spark_writes_timestamps_with_stats(spark, wh):
    """get_spark writes ``timestamp`` as int64 micros, so each days(ts)
    file's stats entry holds its ts min/max — an INT96 footer holds
    none, and the column could not prune."""
    import datetime

    from tests.conftest import ts_physical_type

    conf = spark.conf.get("spark.sql.parquet.outputTimestampType")
    assert conf == "TIMESTAMP_MICROS"
    t = LakehouseTable(spark, wh, "ts_stats")
    t.create(
        spark.createDataFrame(
            [(datetime.datetime(2024, 1, d, 6), d) for d in (1, 2, 3)],
            "ts timestamp, i long",
        ),
        partition_by=["days(ts)"],
    )
    m = t._read_manifest(t.main_head())
    assert {ts_physical_type(f) for f in m["files"]} == {"INT64"}
    stats = [m["stats"][f] for f in m["files"]]
    assert all(s["min"]["ts"] == s["max"]["ts"] for s in stats), stats
    assert {s["min"]["ts"] for s in stats} == {
        f"2024-01-0{d}T06:00:00" for d in (1, 2, 3)
    }


def test_pruned_reads_keep_int96_files_and_prune_int64_ones(spark, wh):
    """A table whose first files were written with INT96 timestamps (no
    ts stats) and later ones as int64: every range read keeps each
    INT96 file, prunes the int64 files by their min/max, and returns
    the brute-force rows."""
    import datetime

    from tests.conftest import int96_timestamps, ts_physical_type

    def rows(days, base):
        return spark.createDataFrame(
            [(datetime.datetime(2024, 1, d, 6), base + d) for d in days],
            "ts timestamp, i long",
        )

    t = LakehouseTable(spark, wh, "mixed_ts")
    with int96_timestamps(spark):
        t.create(rows((1, 2, 3, 5), 0), partition_by=["days(ts)"])
    legacy = t._files()
    t.append(rows((4, 5, 6), 10))
    fresh = [f for f in t._files() if f not in legacy]
    assert {ts_physical_type(f) for f in legacy} == {"INT96"}
    assert {ts_physical_type(f) for f in fresh} == {"INT64"}
    day5 = {f for f in fresh if "p_days_ts=2024-01-05" in f}
    assert day5

    lo, hi = "2024-01-05 00:00:00", "2024-01-06 00:00:00"
    brute = t.read().filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    )
    want = sorted(r.i for r in brute.collect())
    assert want == [5, 15]
    got, kept, total = t.read_pruned("ts", lo, hi)
    assert set(kept) == set(legacy) | day5 and len(total) == len(legacy) + len(fresh)
    assert sorted(r.i for r in got.collect()) == want
    last = "2024-01-05 23:59:59"
    assert set(t.pruned_files("ts", lo, last)) == set(legacy) | day5
    assert sorted(r.i for r in t.read_range("ts", lo, last).collect()) == want


def test_read_pruned_keeps_untransformed_columns_safe(spark, wh):
    """A range filter on a column with NO time transform in the spec
    (bucket-only layout) prunes only on the files' min/max: every file
    holding a matching row is kept, and the residual filter decides the
    rows — never a wrong prune."""
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    t = LakehouseTable(spark, wh, "ev_bkt")
    t.create(ev, partition_by=["bucket(4, user_id)"])
    lo, hi = "2024-01-11 00:00:00", "2024-01-12 00:00:00"
    got, kept, total = t.read_pruned("ts", lo, hi)
    assert _files_with_rows(spark, total, "ts", lo, hi) <= set(kept)
    want = ev.filter(
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp"))
    ).count()
    assert got.count() == want


def test_overwrite_partitions_replaces_only_touched(spark, wh):
    """S6 dynamic overwrite: only partitions present in the incoming
    frame are replaced; other partitions' files are carried into the
    new snapshot UNMODIFIED (same physical files, not rewritten)."""
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp"))
        )
    )
    t = LakehouseTable(spark, wh, "ev_dpo")
    t.create(ev, partition_by=["days(ts)"])
    in_day = (F.col("ts") >= F.lit("2024-01-11 00:00:00").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp")
    )
    untouched_before = {f for f in t._files() if "p_days_ts=2024-01-11" not in f}
    repl = ev.filter(in_day).limit(7).withColumn("event_type", F.lit("X"))
    t.overwrite_partitions(repl)
    # untouched files carried as-is
    untouched_after = {f for f in t._files() if "p_days_ts=2024-01-11" not in f}
    assert untouched_before <= untouched_after
    # touched day replaced exactly
    got = t.read().filter(in_day)
    assert got.count() == 7
    assert {r.event_type for r in got.collect()} == {"X"}


def test_overwrite_partitions_on_missing_table_creates(spark, wh):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id").limit(10)
    t = LakehouseTable(spark, wh, "ev_new")
    v = t.overwrite_partitions(ev)
    assert v == 1 and t.read().count() == 10


def test_appended_files_between_shared_contract(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        appended_files_between,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 10").coalesce(1))
    t.append(nat.filter("n_nationkey >= 10").coalesce(1))
    # full history diff == current file set (append-only so far)
    assert set(appended_files_between(t.root, 0, 2)) == set(t._files(2))
    # suffix diff == only the second commit's files
    added_v2 = appended_files_between(t.root, 1, 2)
    assert set(added_v2) == set(t._files(2)) - set(t._files(1))
    # non-append snapshot in range refuses (the streaming-source guard)
    from pyspark.sql import functions as F

    t.delete_where(F.col("n_nationkey") == 3)
    with _pytest.raises(ValueError, match="non-append"):
        appended_files_between(t.root, 0, 3)
    # batch caller layers its changelog hint on the same error
    with _pytest.raises(ValueError, match="changelog"):
        t.read_incremental(0)


def test_incremental_over_expired_range_raises_contracted_error(
    spark, tmp_path
):
    """An incremental range that reaches into EXPIRED snapshots must
    fail with the contracted ValueError (→ read_incremental re-raises
    with the changelog hint; the lakehouse stream restart path shows a
    graceful error), not leak a raw FileNotFoundError (ADVICE r6)."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        appended_files_between,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 5").coalesce(1))              # v1
    t.append(nat.filter("n_nationkey BETWEEN 5 AND 9").coalesce(1))  # v2
    t.append(nat.filter("n_nationkey > 9").coalesce(1))              # v3
    t.expire_snapshots(keep_last=1)  # v1, v2 manifests gone
    with _pytest.raises(ValueError, match="expired"):
        appended_files_between(t.root, 0, 3)
    # the batch wrapper layers its changelog hint on the SAME error
    with _pytest.raises(ValueError, match="changelog"):
        t.read_incremental(0)


def test_merge_schema_evolution_is_atomic_on_conflict(spark, tmp_path):
    """withSchemaEvolution is ONE transaction: a merge whose commit
    conflicts must leave the target schema UNCHANGED (the r6 spelling
    committed add_column per new source column before the data commit,
    stranding an evolved-schema-no-data table on failure)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        ConflictError,
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.coalesce(1))
    cols_before = [f["name"] for f in t.schema_json()["fields"]]

    src = nat.limit(3).select(
        "n_nationkey", "n_name", "n_regionkey",
        F.lit("x").alias("brand_new_col"),
    )
    rival = LakehouseTable(spark, str(tmp_path), "n")
    orig_commit = t._commit

    def losing_commit(manifest, expected_parent):
        # rival lands first on EVERY attempt → merge ultimately fails
        rival.append(nat.limit(1).selectExpr(
            "n_nationkey + 990 AS n_nationkey", "n_name", "n_regionkey"))
        return orig_commit(manifest, expected_parent)

    t._commit = losing_commit
    try:
        with _pytest.raises(ConflictError):
            t.merge_into(src, on="n_nationkey", schema_evolution=True)
    finally:
        t._commit = orig_commit
    # target schema untouched — no half-applied evolution
    assert [f["name"] for f in t.schema_json()["fields"]] == cols_before
    # and the happy path evolves + merges in ONE commit
    v_before = t.current_version()
    v_after = t.merge_into(src, on="n_nationkey", schema_evolution=True)
    assert v_after == v_before + 1
    assert "brand_new_col" in t.read().columns


def test_expire_snapshots_age_retention_and_idempotence(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 5").coalesce(1))        # v1
    t.append(nat.filter("n_nationkey BETWEEN 5 AND 9").coalesce(1))  # v2
    t.append(nat.filter("n_nationkey > 9").coalesce(1))        # v3
    t.append(nat.limit(0).coalesce(1))                         # v4
    v1_ts = [r for r in t.snapshots().collect() if r.version == 1][0].ts_ms

    # age cutoff BEFORE v1: nothing is old enough, nothing expires
    assert t.expire_snapshots(keep_last=1, older_than_ms=v1_ts) == []
    # cutoff after v1 only: v1 expires, v2 survives on age despite
    # being outside keep_last
    removed = t.expire_snapshots(keep_last=1, older_than_ms=v1_ts + 1)
    assert removed == [1]
    # repeat call is a no-op, not a crash (v1's manifest is gone)
    assert t.expire_snapshots(keep_last=1, older_than_ms=v1_ts + 1) == []
    # current table is intact
    assert t.read().count() == nat.count()
    assert t.read(version=2).count() == 10


def test_expire_age_protection_keeps_protected_snapshots_readable(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 5").coalesce(1))        # v1: [A]
    t.append(nat.filter("n_nationkey BETWEEN 5 AND 9").coalesce(1))  # v2: [A,B]
    t.overwrite(nat.filter("n_nationkey > 9").coalesce(1))     # v3: [C]
    v2_ts = [r for r in t.snapshots().collect() if r.version == 2][0].ts_ms

    # v2 is age-protected (not older than its own ts); v1 expires.
    # v2 still references v1's files — they must SURVIVE.
    removed = t.expire_snapshots(keep_last=1, older_than_ms=v2_ts)
    assert removed == [1]
    assert t.read(version=2).count() == 10  # was: PATH_NOT_FOUND

    # growing keep_last after a tighter expiry must not crash on the
    # already-removed manifests
    assert t.expire_snapshots(keep_last=3) == []


def test_add_column_initial_default(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 10").coalesce(1))          # pre-evolution
    v_evolve = t.add_column("quality_tier", "string", default="unreviewed")
    t.append(                                                     # post-evolution
        nat.filter("n_nationkey >= 10")
        .withColumn(
            "quality_tier",
            F.when(F.col("n_nationkey") % 2 == 0, "gold"),  # real NULLs too
        )
        .coalesce(1)
    )
    cur = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
    # old rows: the default, NOT null
    assert all(cur[k] == "unreviewed" for k in range(10))
    # new rows: stored values survive, including genuine NULLs
    assert cur[10] == "gold" and cur[11] is None
    # defaults survive unrelated commits (inheritance through _commit)
    t.delete_where(F.col("n_nationkey") == 3)
    cur2 = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
    assert cur2[4] == "unreviewed" and 3 not in cur2
    # compaction materializes the column; rewritten rows keep the value
    t.compact(target_partitions=1)
    cur3 = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
    assert cur3[5] == "unreviewed" and cur3[10] == "gold" and cur3[11] is None
    # pre-evolution snapshot has no such column at all
    assert "quality_tier" not in t.read(version=1).columns
    assert v_evolve == 2


def test_changelog_cancels_rewrites_across_default_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 6").coalesce(1))           # v1
    t.add_column("tier", "string", default="unreviewed")          # v2
    t.delete_where(F.col("n_nationkey") == 3)                     # v3 CoW
    ch = t.changelog(2, 3).collect()
    # survivors must cancel: exactly ONE DELETE (key 3), zero INSERTs,
    # and its pre-image carries the default, not NULL
    deletes = [r for r in ch if r._change_type == "DELETE"]
    inserts = [r for r in ch if r._change_type == "INSERT"]
    assert len(deletes) == 1 and not inserts, ch
    assert deletes[0].n_nationkey == 3 and deletes[0].tier == "unreviewed"


def test_partitioned_table_applies_initial_default(spark, tmp_path):
    from pyspark.sql import functions as F

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .filter("event_id < 200")
    )
    t = LakehouseTable(spark, str(tmp_path), "ev")
    t.create(ev.coalesce(1), partition_by=["days(ts)"])
    t.add_column("source_tag", "string", default="legacy")
    t.append(
        ev.limit(5)
        .select(
            (F.col("event_id") + 10000).alias("event_id"),
            "ts",
            "user_id",
            F.lit("fresh").alias("source_tag"),
        )
        .coalesce(1)
    )
    got = {r.event_id: r.source_tag for r in t.read().collect()}
    assert got[0] == "legacy" and got[10000] == "fresh"
    df, scanned, total = t.read_pruned(
        "ts", ev.agg(F.min("ts")).collect()[0][0],
        ev.agg(F.max("ts")).collect()[0][0],
    )
    tags = {r.source_tag for r in df.collect()}
    assert "legacy" in tags


def test_call_named_table_and_mixed_args(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    eng.create_table("proc_named", nat.coalesce(1))
    eng.managed("proc_named").append(nat.limit(2).selectExpr(
        "n_nationkey + 500 AS n_nationkey", "n_name", "n_regionkey"))
    # Iceberg's canonical fully-named spelling
    out = eng.sql(
        "CALL system.rollback_to_snapshot(table => 'proc_named', version => 1)"
    ).collect()
    assert out[0].table == "proc_named"
    assert eng.managed("proc_named").read().count() == nat.count()
    # positional after named is rejected, not mis-bound
    with _pytest.raises(ValueError, match="positional argument"):
        eng.sql(
            "CALL system.expire_snapshots('proc_named', older_than_ms => 99, 2)"
        )
    spark.catalog.dropTempView("proc_named")


def test_commit_with_retries_recovers_from_concurrent_writer(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        ConflictError,
        LakehouseTable,
        commit_with_retries,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.filter("n_nationkey < 10").coalesce(1))

    writer2 = LakehouseTable(spark, str(tmp_path), "n")
    attempts = {"n": 0}

    def racy_append():
        attempts["n"] += 1
        if attempts["n"] == 1:
            # a concurrent writer lands between our read and commit:
            # capture the stale parent, let writer2 commit, then try
            parent = t.current_version()
            writer2.append(
                nat.filter("n_nationkey BETWEEN 10 AND 12").coalesce(1)
            )
            return t._commit(
                {"files": t._files(parent), "schema": t.schema_json(),
                 "op": "append"},
                parent,
            )
        return t.append(nat.filter("n_nationkey > 12").coalesce(1))

    v = commit_with_retries(racy_append, retries=2)
    assert attempts["n"] == 2 and v == 3
    assert t.read().count() == nat.count()

    # exhausted retries propagate the conflict, never a silent drop
    def always_conflicts():
        raise ConflictError("simulated")

    with _pytest.raises(ConflictError):
        commit_with_retries(always_conflicts, retries=1, backoff_s=0.0)


def test_rename_and_drop_column_manifest_only(spark, tmp_path):
    """M6 completion (r7): RENAME and DROP COLUMN are manifest-only.
    Rename keeps pre-rename files' VALUES readable via the per-file
    name mapping (an explicit logical-schema read would null them);
    rewrites graduate files to the new physical name; drop removes the
    field without touching a single data file; time travel still shows
    the historical schema."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = LakehouseTable(spark, str(tmp_path), "n")
    t.create(nat.coalesce(1))                                   # v1
    n0 = nat.count()
    files_v1 = set(t._files())

    t.rename_column("n_name", "nation_name")                    # v2
    assert set(t._files()) == files_v1                          # no rewrite
    got = t.read()
    assert "nation_name" in got.columns and "n_name" not in got.columns
    # values preserved from pre-rename files
    assert got.filter(F.col("nation_name").isNull()).count() == 0
    orig = {r.n_nationkey: r.n_name for r in nat.collect()}
    assert all(
        orig[r.n_nationkey] == r.nation_name for r in got.collect()
    )

    # append AFTER the rename: new files carry the new physical name
    t.append(                                                   # v3
        nat.limit(3).select(
            (F.col("n_nationkey") + 800).alias("n_nationkey"),
            F.col("n_name").alias("nation_name"),
            "n_regionkey",
        )
    )
    assert t.read().count() == n0 + 3
    assert t.read().filter(F.col("nation_name").isNull()).count() == 0

    # chained rename: era-1 files physically n_name, era-2 nation_name
    t.rename_column("nation_name", "nname")                     # v4
    got = t.read()
    assert got.filter(F.col("nname").isNull()).count() == 0
    assert got.count() == n0 + 3

    # rewrite graduates every file to the CURRENT physical name and
    # the mapping becomes inert (new files in no mapping list)
    t.compact(target_partitions=1)                              # v5
    assert t.read().filter(F.col("nname").isNull()).count() == 0

    # drop: manifest-only, same files
    files_v5 = set(t._files())
    t.drop_column("n_regionkey")                                # v6
    assert set(t._files()) == files_v5
    assert t.read().columns == ["n_nationkey", "nname"]

    # time travel shows historical schema AND values
    v1 = t.read(version=1)
    assert "n_name" in v1.columns
    assert v1.filter(F.col("n_name").isNull()).count() == 0

    # guards
    with _pytest.raises(ValueError, match="already exists"):
        t.rename_column("nname", "n_nationkey")
    with _pytest.raises(ValueError, match="no column"):
        t.drop_column("ghost")


def test_rename_drop_partition_source_refused(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "ts", "user_id"
    )
    t = LakehouseTable(spark, str(tmp_path), "ev")
    t.create(ev, partition_by=["bucket(2, user_id)"])
    with pytest.raises(ValueError, match="partition source"):
        t.rename_column("user_id", "uid")
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("user_id")
    # non-source columns still evolve fine
    t.rename_column("event_id", "eid")
    assert "eid" in t.read().columns


def test_append_rejects_mismatched_columns(spark, tmp_path):
    """Name-based append must REJECT frames whose columns don't cover
    the table schema — before r7 it wrote the files anyway and the
    manifest-schema scan read the appended rows back as all-NULL
    (silent corruption, found via the INSERT...VALUES door whose frame
    arrives named col1/col2)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    reg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    t = LakehouseTable(spark, str(tmp_path), "r")
    t.create(reg.coalesce(1))
    bad = spark.createDataFrame([(90, "ATLANTIS")], "col1 int, col2 string")
    with pytest.raises(ValueError, match="lacks column"):
        t.append(bad)
    # positional path aligns names AND casts int -> the table's type
    t.append_positional(bad)
    got = {r.r_regionkey: r.r_name for r in t.read().collect()}
    assert got[90] == "ATLANTIS"
    # extra/reordered columns: name-based append selects table order
    extra = reg.limit(1).selectExpr(
        "r_name", "r_regionkey + 50 AS r_regionkey", "'junk' AS debris"
    )
    t.append(extra)
    assert t.read().filter("r_regionkey >= 50").count() == 2
    assert "debris" not in t.read().columns


def test_changelog_across_schema_evolution(spark, tmp_path):
    """CDC spanning rename + drop + add + data commits emits every row
    in the FINAL schema (Iceberg changelog behavior): renamed columns
    re-keyed, dropped columns gone, later-added columns NULL for
    pre-evolution pairs. Previously unionByName across the boundary
    errored outright."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    reg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    t = LakehouseTable(spark, str(tmp_path), "r")
    t.create(reg.coalesce(1))                        # v1
    t.append(reg.limit(1).selectExpr(
        "r_regionkey + 40 AS r_regionkey", "r_name"))  # v2 (data)
    t.rename_column("r_name", "region_name")         # v3 (meta)
    t.drop_column("r_regionkey")                     # v4 (meta)
    t.add_column("zone", "string")                   # v5 (meta)
    t.append(spark.createDataFrame(
        [("ATLANTIS", "deep")], "region_name string, zone string"
    ).coalesce(1))                                   # v6 (data)

    chg = t.changelog(1)
    assert set(chg.columns) == {"region_name", "zone", "_change_type", "_change_version"}
    rows = chg.collect()
    # v2's append surfaces its row under the FINAL names, zone NULL
    v2 = [r for r in rows if r._change_version == 2]
    assert len(v2) == 1 and v2[0].region_name is not None and v2[0].zone is None
    # v6's append carries the post-evolution columns
    v6 = [r for r in rows if r._change_version == 6]
    assert {(r.region_name, r.zone) for r in v6} == {("ATLANTIS", "deep")}


def test_timestamp_as_of_skips_staged_branch_snapshots(spark, tmp_path):
    """A main-side TIMESTAMP AS OF read resolving to the newest
    snapshot by timestamp must skip staged branch snapshots — else an
    INSERT INTO t.branch_b leaks unaudited rows into main-side time
    travel (the WAP leak class; review-pass finding)."""
    t = LakehouseTable(spark, str(tmp_path), "tt")
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))  # v1 main
    t.create_branch("b")
    t.write_to_branch("b", spark.createDataFrame([(9,)], "id long"))  # v2 staged
    ts_now = t._read_manifest(2)["timestamp_ms"] + 10_000
    got = t.read_as_of_timestamp(ts_now)
    assert got.count() == 2, "TIMESTAMP AS OF leaked staged branch rows"
    # the branch itself still sees its write
    assert t.read_ref("b").count() == 3


def test_fast_forward_refuses_divergent_publish(spark, tmp_path):
    """fast_forward('main', b) when main advanced AFTER the branch was
    based must refuse (Iceberg: target must be a descendant) — a blind
    rollforward would silently discard the concurrent main commit's
    rows (data-loss hazard)."""
    t = LakehouseTable(spark, str(tmp_path), "ff")
    t.create(spark.createDataFrame([(1,)], "id long"))  # v1 main
    t.create_branch("b")  # based at v1
    t.write_to_branch("b", spark.createDataFrame([(9,)], "id long"))  # v2 staged
    t.append(spark.createDataFrame([(2,)], "id long"))  # v3: main ADVANCED
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("main", "b")
    # main's concurrent commit survives intact
    assert t.read().count() == 2

    # the happy path still publishes: rebase the branch on main's new
    # head, write, publish — a true fast-forward
    t.replace_branch("b", t.main_head())
    t.write_to_branch("b", spark.createDataFrame([(10,)], "id long"))
    t.fast_forward("main", "b")
    assert t.read().count() == 3


def test_fast_forward_branch_to_branch_guarded(spark, tmp_path):
    """The branch→branch arm carries the same ancestry guard: moving a
    branch onto a ref that does not descend from it is a refusal, while
    advancing a stale branch onto its own descendant succeeds."""
    t = LakehouseTable(spark, str(tmp_path), "fb")
    t.create(spark.createDataFrame([(1,)], "id long"))  # v1 main
    t.create_branch("dev")   # v1
    t.create_branch("lag")   # v1
    t.write_to_branch("dev", spark.createDataFrame([(9,)], "id long"))  # v2
    # lag (v1) is an ancestor of dev's head (v2): fast-forward OK
    assert t.fast_forward("lag", "dev") == 2
    # now diverge: lag writes its own snapshot off v2, dev writes too
    t.write_to_branch("lag", spark.createDataFrame([(8,)], "id long"))  # v3
    t.write_to_branch("dev", spark.createDataFrame([(7,)], "id long"))  # v4
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("lag", "dev")


def test_expire_snapshots_protects_ref_targets(spark, tmp_path):
    """Snapshots still pointed to by a branch/tag — and staged
    snapshots of live branches — survive expire_snapshots regardless
    of keep_last, matching Iceberg ref retention; read_ref must keep
    working after routine maintenance (review-pass finding)."""
    t = LakehouseTable(spark, str(tmp_path), "er")
    t.create(spark.createDataFrame([(1,)], "id long"))   # v1
    t.create_tag("v1-tag")                               # -> v1
    t.append(spark.createDataFrame([(2,)], "id long"))   # v2
    t.create_branch("s")                                 # -> v2
    t.write_to_branch("s", spark.createDataFrame([(9,)], "id long"))  # v3 staged
    t.append(spark.createDataFrame([(3,)], "id long"))   # v4
    t.append(spark.createDataFrame([(4,)], "id long"))   # v5

    removed = t.expire_snapshots(keep_last=1)
    # v1 (tag), v2 (branch base is v2? branch points at v3), v3
    # (staged + branch head) are protected; only unreferenced old
    # main snapshots expire
    assert 1 not in removed and 3 not in removed
    assert t.read_ref("v1-tag").count() == 1
    assert t.read_ref("s").count() == 3
    # dropping the refs releases them for the next maintenance pass
    t.drop_tag("v1-tag")
    t.drop_branch("s")
    removed2 = t.expire_snapshots(keep_last=1)
    assert 1 in removed2 and 3 in removed2


def test_quantizer_and_assign_zero_guards(spark):
    """quantized_unit_vectors raises loudly on a zero-norm input vector
    (instead of NaN/Inf failing an ANSI cast deep in the job); zero-sum
    centroids drop out of _int_assign instead of ZeroDivisionError
    inside mapInPandas (review-pass findings)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import (
        _int_assign,
        quantized_unit_vectors,
    )

    bad = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "id long, v array<double>"
    )
    with pytest.raises(Exception, match="zero-norm"):
        quantized_unit_vectors(bad, "id", "v").collect()

    good = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "id long, v array<double>"
    )
    q = quantized_unit_vectors(good, "id", "v")
    # one genuine centroid + one all-zero centroid: assignment must
    # complete and use only the genuine one
    out = _int_assign(q, [(0, [10_000, 0]), (1, [0, 0])]).collect()
    assert {r.cluster for r in out} == {0}
    with pytest.raises(ValueError, match="zero vector"):
        _int_assign(q, [(0, [0, 0])])


def test_repeated_wap_publish_cycle(spark, tmp_path):
    """A long-lived staging branch can write → publish repeatedly
    (ADVICE r9, reproduced as a dead-end): the publish rollforward is
    stamped rollforward_of, so the NEXT publish proves ancestry through
    it instead of refusing."""
    t = LakehouseTable(spark, str(tmp_path), "wap")
    t.create(spark.createDataFrame([(1,)], "id long"))  # v1
    t.create_branch("stage")
    for i, expect in ((9, 2), (10, 3), (11, 4)):
        t.write_to_branch("stage", spark.createDataFrame([(i,)], "id long"))
        t.fast_forward("main", "stage")
        assert t.read().count() == expect, f"publish #{expect - 1} failed"


def test_fast_forward_stale_branch_catches_up_to_main(spark, tmp_path):
    """Iceberg's standard branch catch-up: fast-forwarding a stale
    branch onto a ref at a NEWER main snapshot succeeds — the branch
    head is a genuine ancestor along main history (ADVICE r9: the old
    walk broke at the first main-side snapshot and refused)."""
    t = LakehouseTable(spark, str(tmp_path), "cu")
    t.create(spark.createDataFrame([(1,)], "id long"))   # v1
    t.create_branch("stale")                             # -> v1
    # interleave a staged write from ANOTHER branch so the main walk
    # must skip staged entries on its way down
    t.create_branch("other")
    t.write_to_branch("other", spark.createDataFrame([(9,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))   # main advances
    t.append(spark.createDataFrame([(3,)], "id long"))   # and again
    t.create_tag("head-now")                             # -> main head
    t.fast_forward("stale", "head-now")
    assert t.read_ref("stale").count() == 3
    # a genuinely divergent branch still refuses
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("other", "head-now")


def test_cherrypick_accepts_staged_branch_append(spark, tmp_path):
    """cherrypick_snapshot accepts op branch_append:* — the recovery
    path the fast-forward refusal message points at (ADVICE r9: it
    used to reject staged snapshots, so the documented path always
    failed). The delta base is ref_base, not the log parent."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        cherrypick_snapshot,
    )

    t = LakehouseTable(spark, str(tmp_path), "cp")
    t.create(spark.createDataFrame([(1,)], "id long"))   # v1
    t.create_branch("d")                                 # -> v1
    v_staged = t.write_to_branch(
        "d", spark.createDataFrame([(9,)], "id long")
    )
    t.append(spark.createDataFrame([(2,)], "id long"))   # main diverges
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("main", "d")
    v = cherrypick_snapshot(t, v_staged)
    assert t.main_head() == v
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 9]


def test_insert_branch_reports_written_row_count(spark, tmp_path):
    """INSERT INTO t.branch_<b> reports the rows actually WRITTEN
    (parquet footer counts of the new files), not a re-run of the
    source SELECT (ADVICE r9: a non-deterministic source could report
    a count differing from the rows written)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string") \
        .createOrReplaceTempView("ib_src")
    eng.sql("CREATE TABLE ib AS SELECT * FROM ib_src")
    eng.sql("ALTER TABLE ib CREATE BRANCH st")
    r1 = eng.sql(
        "INSERT INTO ib.branch_st VALUES (3, 'c'), (4, 'd'), (5, 'e')"
    ).collect()[0]
    assert r1.n_rows == 3, f"first branch insert reported {r1.n_rows}"
    r2 = eng.sql("INSERT INTO ib.branch_st VALUES (6, 'f')").collect()[0]
    assert r2.n_rows == 1, f"second branch insert reported {r2.n_rows}"


def test_cherrypick_legacy_staged_manifest_uses_log_parent(spark, tmp_path):
    """A staged manifest written before ref_base existed falls back to
    the LOG parent as the delta base (same fallback as
    _assert_fast_forward) — treating it as base-less would count the
    branch's inherited base files as delta and resurrect rows main has
    since deleted (review-pass finding)."""
    import json as _json

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        cherrypick_snapshot,
    )

    t = LakehouseTable(spark, str(tmp_path), "cpl")
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))  # v1
    t.create_branch("d")
    v_staged = t.write_to_branch("d", spark.createDataFrame([(9,)], "id long"))
    # simulate a legacy staged manifest: strip the ref_base key
    mp = t._manifest_path(v_staged)
    m = _json.load(open(mp))
    assert m.pop("ref_base", None) is not None
    _json.dump(m, open(mp, "w"))
    # main deletes a row the branch's base files still contain
    t.delete_where(F.col("id") == 1)
    ids_before = sorted(r.id for r in t.read().collect())
    assert ids_before == [2]
    cherrypick_snapshot(t, v_staged)
    ids = sorted(r.id for r in t.read().collect())
    assert ids == [2, 9], f"cherrypick resurrected deleted rows: {ids}"


def test_repeated_publish_survives_snapshot_expiry(spark, tmp_path):
    """expire_snapshots between WAP publishes must not break the next
    publish's ancestry proof: ref retention keeps the staged chain
    (branch head) and the rollforward identity stamps survive, so only
    genuinely unreferenced snapshots expire."""
    t = LakehouseTable(spark, str(tmp_path), "exp")
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.create_branch("s")
    t.write_to_branch("s", spark.createDataFrame([(9,)], "id long"))
    t.fast_forward("main", "s")
    t.expire_snapshots(keep_last=1)
    t.write_to_branch("s", spark.createDataFrame([(10,)], "id long"))
    t.fast_forward("main", "s")
    assert t.read().count() == 3


def test_merge_explicit_update_cols_keep_unlisted_target_values(spark, wh):
    """SQL-standard UPDATE semantics (review-pass r10, reproduced):
    an explicit update_cols dict updates ONLY the listed columns —
    unlisted columns keep the TARGET value, never the source's."""
    t = LakehouseTable(spark, wh, "mu")
    t.create(
        spark.createDataFrame([(1, "ALPHA", 10), (2, "BETA", 20)],
                              "k long, nm string, v long")
    )
    src = spark.createDataFrame([(1, "SRCNAME", 99)], "k long, nm string, v long")
    t.merge_into(src, on="k", update_cols={"v": F.col("__src").getField("v")})
    rows = {r.k: (r.nm, r.v) for r in t.read().collect()}
    assert rows[1] == ("ALPHA", 99), rows  # nm kept, v updated
    assert rows[2] == ("BETA", 20)


def test_merge_without_update_clause_keeps_matched_rows(spark, wh):
    """update_cols={} = no UPDATE clause: a delete-only MERGE must
    leave non-deleted matched rows byte-identical (they used to be
    rewritten from source)."""
    t = LakehouseTable(spark, wh, "md")
    t.create(
        spark.createDataFrame([(1, "ALPHA"), (2, "BETA")], "k long, nm string")
    )
    src = spark.createDataFrame(
        [(1, "DROP"), (2, "SRC_B"), (7, "NEW")], "k long, nm string"
    )
    t.merge_into(
        src,
        on="k",
        update_cols={},
        insert=True,
        delete_cond=F.col("__src").getField("nm") == "DROP",
    )
    rows = {r.k: r.nm for r in t.read().collect()}
    assert rows == {2: "BETA", 7: "NEW"}, rows  # 2 untouched, 1 deleted


def test_merge_update_set_star_still_takes_source(spark, wh):
    """update_cols=None keeps UPDATE SET * semantics: every column of
    a matched row comes from source."""
    t = LakehouseTable(spark, wh, "ms")
    t.create(spark.createDataFrame([(1, "ALPHA")], "k long, nm string"))
    src = spark.createDataFrame([(1, "SRC_A")], "k long, nm string")
    t.merge_into(src, on="k", update_cols=None)
    assert t.read().collect()[0].nm == "SRC_A"


def test_temporal_bound_iso_contract():
    """The one bound normalizer: temporal inputs in either separator
    convention canonicalize to the 'T' form, date-only gains midnight,
    and NON-temporal strings return None so callers pass them through
    verbatim — a blanket separator replace would corrupt string-column
    bounds like 'NEW YORK'."""
    import datetime

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        temporal_bound_iso,
    )

    assert temporal_bound_iso(datetime.datetime(1996, 6, 1)) == "1996-06-01T00:00:00"
    assert temporal_bound_iso(datetime.date(1996, 6, 1)) == "1996-06-01T00:00:00"
    assert temporal_bound_iso("1996-06-01T08:30:00") == "1996-06-01T08:30:00"
    assert temporal_bound_iso("1996-06-01 08:30:00") == "1996-06-01T08:30:00"
    assert temporal_bound_iso("1996-06-01") == "1996-06-01T00:00:00"
    # fractional seconds survive, canonicalized to the stats encoder's
    # 6-digit convention (see
    # test_temporal_bound_iso_fraction_canonicalization)
    assert (
        temporal_bound_iso("1996-06-01 08:30:00.25")
        == "1996-06-01T08:30:00.250000"
    )
    # non-temporal strings: caller must pass through verbatim
    assert temporal_bound_iso("NEW YORK") is None
    assert temporal_bound_iso("ATLAS") is None
    assert temporal_bound_iso("1996-06") is None
    # minute-precision inputs gain ':00' (the lexicographic stat
    # compare assumes full 'HH:MM:SS'; '...T08:30' < '...T08:30:00'
    # would over-prune the boundary minute)
    assert temporal_bound_iso("1996-06-01 08:30") == "1996-06-01T08:30:00"
    assert temporal_bound_iso("1996-06-01T08:30") == "1996-06-01T08:30:00"
    # a fraction without seconds is not a temporal shape we canonicalize
    assert temporal_bound_iso("1996-06-01 08:30.5") is None


def _boundary_day_table(spark, wh, ddl: str, days):
    """Three files, one per day, via repartitionByRange on the day
    column — the exact-boundary pruning probe's fixture shape."""
    rows = [(d, i) for i, d in enumerate(days)]
    df = spark.createDataFrame(rows, ddl).repartitionByRange(3, "d")
    t = LakehouseTable(spark, wh, "bday")
    t.create(df)
    return t


def test_pruned_files_date_column_exact_boundary_day(spark, wh):
    """VERDICT r14 #2: a DATE-typed column's stats encode date-only ISO
    strings while bounds normalize to 'T00:00:00'; lexicographically
    '2024-01-02' < '2024-01-02T00:00:00', so the file whose max IS the
    inclusive lower-bound day was wrongly pruned.  With midnight-
    canonical date stats + the dtype gate, the file must be KEPT and
    read_range must return its rows."""
    import datetime

    days = [datetime.date(2024, 1, d) for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d date, i long", days)
    assert len(t._files()) == 3
    # lo bound == the earliest file's max day: that file must survive
    kept = t.pruned_files("d", "2024-01-02", "2024-01-09")
    assert len(kept) == 3, f"boundary-day file wrongly pruned: {kept}"
    assert t.read_range("d", "2024-01-02", "2024-01-09").count() == 3
    # date-object bounds take the same path
    got = t.read_range("d", days[0], days[0]).collect()
    assert [r.i for r in got] == [0]
    # pruning still prunes: a range strictly between days drops files
    assert len(t.pruned_files("d", "2024-01-03", "2024-01-04")) == 0


def test_pruned_files_date_shaped_string_column(spark, wh):
    """A STRING column holding date-shaped values must compare RAW: the
    dtype gate keeps temporal normalization away from it, otherwise the
    '...T00:00:00'-padded bound sorts after the bare 'YYYY-MM-DD' stat
    and the exact-boundary file is wrongly pruned."""
    days = ["2024-01-02", "2024-01-05", "2024-01-09"]
    t = _boundary_day_table(spark, wh, "d string, i long", days)
    assert len(t._files()) == 3
    kept = t.pruned_files("d", "2024-01-02", "2024-01-09")
    assert len(kept) == 3, f"boundary-day file wrongly pruned: {kept}"
    assert t.read_range("d", "2024-01-02", "2024-01-02").count() == 1
    assert len(t.pruned_files("d", "2024-01-03", "2024-01-04")) == 0


def test_read_pruned_residual_string_column_boundary(spark, wh):
    """read_pruned's residual predicate and its planned scan must compare
    a date-SHAPED STRING column against the RAW bounds — padding them to
    '...T00:00:00' would drop the boundary day lexicographically
    ('2024-01-02' >= '2024-01-02T00:00:00' is FALSE)."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, d, 12), f"2024-01-{d:02d}", d)
        for d in (2, 5, 9)
    ]
    t = LakehouseTable(spark, wh, "sb")
    t.create(
        spark.createDataFrame(rows, "ts timestamp_ntz, d string, i long"),
        partition_by=["days(ts)"],
    )
    out, kept, total = t.read_pruned("d", "2024-01-02", "2024-01-06")
    assert _files_with_rows(spark, total, "d", "2024-01-02", "2024-01-06") <= set(kept)
    got = sorted(r.i for r in out.collect())
    assert got == [2, 5], f"boundary day dropped: {got}"


def test_read_pruned_bounds_pass_the_range_dtype_gate(spark, wh):
    """read_pruned builds its bounds with the dtype gate every range read
    shares: a bound that is not ISO-temporal is compared verbatim on a
    string column (in the planner and the residual alike), and raises
    the contracted ValueError on a temporal column, also under
    ``python -O``."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, d, 12), f"2024-01-{d:02d}", d)
        for d in (2, 5, 9)
    ]
    t = LakehouseTable(spark, wh, "gate")
    t.create(
        spark.createDataFrame(rows, "ts timestamp_ntz, d string, i long"),
        partition_by=["days(ts)"],
    )
    out, kept, total = t.read_pruned("d", "2024-01-0", "2024-01-06")
    assert _files_with_rows(spark, total, "d", "2024-01-0", "2024-01-06") <= set(kept)
    assert sorted(r.i for r in out.collect()) == [2, 5]
    with pytest.raises(ValueError, match="unsupported temporal bound"):
        t.read_pruned("ts", "2024-01-02 08:30.5", "2024-01-06")


def test_pruned_files_self_heals_legacy_date_stats(spark, wh):
    """Review-pass r15: manifests carry file stats FORWARD across
    commits, so stats written before the midnight canonicalization
    (bare 'YYYY-MM-DD' for DATE columns) can survive in a live table.
    pruned_files must normalize the STAT side through the same
    normalizer as the bounds, or the legacy stat sorts before its own
    day's bound and the boundary file is wrongly pruned."""
    import json

    days = [__import__("datetime").date(2024, 1, d) for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d date, i long", days)
    # rewrite the head manifest's stats to the LEGACY date-only form
    head = t.main_head()
    mpath = t._manifest_path(head)
    m = t._read_manifest(head)
    del m["manifests"]  # the legacy form: stats inline
    for s in m["stats"].values():
        for side in ("min", "max"):
            if "d" in s[side]:
                s[side]["d"] = s[side]["d"][:10]  # strip 'T00:00:00'
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    kept = t.pruned_files("d", "2024-01-02", "2024-01-09")
    assert len(kept) == 3, f"legacy-stat boundary file wrongly pruned: {kept}"
    assert t.read_range("d", "2024-01-02", "2024-01-02").count() == 1


def test_temporal_bound_iso_fraction_canonicalization():
    """The stats encoder (datetime.isoformat) emits NO fraction when microseconds are zero and EXACTLY six digits
    otherwise — bounds must canonicalize to the same convention or the
    lexicographic compare over-prunes ('…15.5' < '…15.500000')."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        temporal_bound_iso,
    )

    f = temporal_bound_iso
    assert f("1996-06-01 08:30:15.5") == "1996-06-01T08:30:15.500000"
    assert f("1996-06-01T08:30:15.5") == "1996-06-01T08:30:15.500000"
    # zero fractions strip entirely (isoformat omits zero micros)
    assert f("1996-06-01 08:30:15.0") == "1996-06-01T08:30:15"
    assert f("1996-06-01 08:30:15.000000") == "1996-06-01T08:30:15"
    # digits past microseconds truncate (timestamp[us] data)
    assert f("1996-06-01 08:30:15.1234567") == "1996-06-01T08:30:15.123456"
    import datetime

    assert (
        f(datetime.datetime(1996, 6, 1, 8, 30, 15, 500000))
        == "1996-06-01T08:30:15.500000"
    )


def test_pruned_files_fractional_second_boundary(spark, wh):
    """A timestamp file whose max is exactly the lo bound's
    fractional-second instant must be KEPT: stats carry 6-digit
    microseconds, so a short-fraction bound must canonicalize before
    the lexicographic compare (review-pass r15)."""
    import datetime

    ts = [datetime.datetime(2024, 1, 2, 8, 30, 15, 500000),
          datetime.datetime(2024, 1, 5, 0, 0, 0),
          datetime.datetime(2024, 1, 9, 0, 0, 0)]
    t = _boundary_day_table(spark, wh, "d timestamp_ntz, i long", ts)
    kept = t.pruned_files("d", "2024-01-02 08:30:15.5", "2024-01-09")
    assert len(kept) == 3, f"fractional boundary file wrongly pruned: {kept}"
    got = t.read_range("d", "2024-01-02 08:30:15.5", "2024-01-02 08:30:15.5")
    assert [r.i for r in got.collect()] == [0]


def test_pruned_files_rejects_unparseable_temporal_bound(spark, wh):
    """A bound the normalizer cannot canonicalize must FAIL LOUDLY on a
    temporal column (review-pass r15): the raw space-separated string
    would compare lexicographically against 'T'-separated stats and
    silently prune matching files."""
    import datetime

    import pytest as _pytest

    days = [datetime.date(2024, 1, d) for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d date, i long", days)
    with _pytest.raises(ValueError, match="unsupported temporal bound"):
        t.pruned_files("d", "2024-01-02 08:30.5", "2024-01-09")


def test_pruned_files_zoned_timestamp_column_boundary(spark, wh):
    """Review-pass r15: a ZONED TimestampType column's pyarrow stats
    are tz-aware ('…+00:00' in isoformat), and tz-aware bounds carried
    the same suffix — either side's offset defeats the lexicographic
    compare against the naive canonical form, silently over-pruning
    the exact-boundary file.  Both the stats encoder and the bound
    normalizer now canonicalize zoned instants to UTC-naive."""
    import datetime

    utc = datetime.timezone.utc
    ts = [datetime.datetime(2024, 1, d, 8, 30, 15, tzinfo=utc)
          for d in (2, 5, 9)]
    t = _boundary_day_table(spark, wh, "d timestamp, i long", ts)
    assert len(t._files()) == 3
    # tz-aware datetime bounds at the exact boundary instants
    kept = t.pruned_files("d", ts[0], ts[2])
    assert len(kept) == 3, f"zoned boundary file wrongly pruned: {kept}"
    got = t.read_range("d", ts[0], ts[0]).collect()
    assert [r.i for r in got] == [0]
    # naive ISO-string bounds against the zoned column's stats
    kept2 = t.pruned_files("d", "2024-01-02 08:30:15", "2024-01-09 08:30:15")
    assert len(kept2) == 3, f"naive bound vs zoned stats pruned: {kept2}"


# --- review-pass r15 batch 2: silent-failure classes in the DML/CDC paths ---


def test_partitioned_dml_hits_encoded_partition_dirs(spark, wh):
    """DELETE/UPDATE on a time-transform-partitioned table: the
    partition value '2024-01-01 00:00:00' is written as
    'p_days_ts=...00%3A00%3A00' on disk, and input_file_name returns
    that URI-ENCODED ('%2000%253A...'); without one decode the affected
    set never intersects the manifest and the DML silently no-ops
    (review-pass r15, reproduced)."""
    import datetime

    rows = [
        (datetime.datetime(2024, 1, 1, 8, 0) + datetime.timedelta(days=i % 3), i)
        for i in range(10)
    ]
    t = LakehouseTable(spark, wh, "enc_dml")
    t.create(
        spark.createDataFrame(rows, "ts timestamp, i long"),
        partition_by=["days(ts)"],
    )
    t.delete_where(F.col("i") == 3)
    assert t.read().count() == 9
    t.update_set(F.col("i") == 5, {"i": F.lit(500)})
    vals = sorted(r.i for r in t.read().collect())
    assert 500 in vals and 5 not in vals and 3 not in vals


def test_changelog_and_incremental_skip_staged_snapshots(spark, wh):
    """A WAP branch write stages a snapshot in the shared log; main's
    CDC and incremental scans must skip it — the leak surfaced
    unaudited branch rows as a phantom INSERT/DELETE pair, and ONE
    branch write permanently errored every incremental consumer whose
    range crossed it (review-pass r15, both reproduced)."""
    t = LakehouseTable(spark, wh, "wap_cdc")
    t.create(spark.createDataFrame([(1,), (2,)], "v int").coalesce(1))  # v1
    t.create_branch("audit")
    t.write_to_branch(
        "audit", spark.createDataFrame([(99,)], "v int").coalesce(1)
    )  # v2 staged
    t.append(spark.createDataFrame([(3,)], "v int").coalesce(1))  # v3 main
    chg = sorted(
        (r.v, r._change_type, r._change_version) for r in t.changelog(1).collect()
    )
    assert chg == [(3, "INSERT", 3)], chg
    assert sorted(r.v for r in t.read_incremental(1).collect()) == [3]
    # a checkpointed offset can BE the staged version (raw log head at
    # checkpoint time): the delta base is the last MAIN state before it
    assert sorted(r.v for r in t.read_incremental(2).collect()) == [3]


def test_changelog_survives_files_plus_schema_commit(spark, wh):
    """merge_into(schema_evolution=True) rewrites files AND extends the
    schema in ONE snapshot; changelog used to feed exceptAll two
    different-arity frames and crash with NUM_COLUMNS_MISMATCH — both
    sides now align to the final schema first (review-pass r15,
    reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "evo_cdc")
    t.create(spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1))
    t.merge_into(
        spark.createDataFrame([(1, 11, "x")], "id int, v int, w string").coalesce(1),
        "id",
        schema_evolution=True,
    )
    rows = sorted(
        (r.id, r.v, r.w, r._change_type, r._change_version)
        for r in t.changelog(0).collect()
    )
    assert rows == [
        (1, 10, None, "DELETE", 2),
        (1, 10, None, "INSERT", 1),
        (1, 11, "x", "INSERT", 2),
    ], rows


def test_merge_accepts_null_keyed_source_rows(spark, wh):
    """NULL merge keys never match a target row, so multiple NULL-keyed
    source rows are plain NOT-MATCHED inserts — the cardinality check
    must not count the NULL group as duplicates (review-pass r15); a
    genuine duplicate key must still raise."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "null_merge")
    t.create(spark.createDataFrame([(1, 10)], "id int, v int").coalesce(1))
    t.merge_into(
        spark.createDataFrame([(None, 1), (None, 2)], "id int, v int").coalesce(1),
        "id",
    )
    got = sorted([(r.id, r.v) for r in t.read().collect()], key=str)
    assert got == sorted([(1, 10), (None, 1), (None, 2)], key=str)
    with pytest.raises(ValueError, match="cardinality"):
        t.merge_into(
            spark.createDataFrame([(1, 5), (1, 6)], "id int, v int").coalesce(1),
            "id",
        )


def test_partitioned_read_keeps_user_p_prefixed_column(spark, wh):
    """Only DERIVED partition columns are hidden on read: a real data
    column that happens to start with 'p_' belongs to the manifest
    schema and must keep its values (it used to be dropped and re-added
    as all-NULL — review-pass r15)."""
    import datetime

    t = LakehouseTable(spark, wh, "pcol")
    t.create(
        spark.createDataFrame(
            [(datetime.datetime(2024, 1, 1), 1, 0.5)],
            "ts timestamp, i long, p_score double",
        ),
        partition_by=["days(ts)"],
    )
    [row] = t.read().collect()
    assert row.p_score == 0.5
    assert "p_days_ts" not in t.read().columns


def test_read_nonexistent_table_raises_cleanly(spark, wh):
    """read() on a never-created table raises the contracted ValueError
    (schema_json's rule), not a raw FileNotFoundError (partitioned) or
    a cryptic cannot-infer-schema (base) — review-pass r15."""
    with pytest.raises(ValueError, match="does not exist"):
        LakehouseTable(spark, wh, "ghost").read()
    with pytest.raises(ValueError, match="does not exist"):
        LakehouseTable(spark, wh, "ghost2").read()


def test_managed_reopens_with_stats(spark, wh):
    """A re-opened managed table (new Engine over an existing
    warehouse) keeps per-file min/max stats on every live file through
    a sort rewrite (CALL rewrite_data_files) and DML."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    e1 = Engine(spark, warehouse=wh)
    e1.create_table("reopen_t", spark.range(100).selectExpr("id AS c"))
    e2 = Engine(spark, warehouse=wh)  # fresh engine, same warehouse
    t = e2.managed("reopen_t")
    e2.sql(
        "CALL system.rewrite_data_files('reopen_t', strategy => 'sort', "
        "sort_order => 'c')"
    )
    m = t._read_manifest(t.main_head())
    assert m["op"] == "rewrite_sorted:c"
    assert set(m["stats"]) == set(m["files"]), "sort rewrite lost stats"
    # stats survive DML through the re-opened handle
    t.delete_where(F.col("c") == 1)
    m = t._read_manifest(t.main_head())
    assert m["op"] == "delete"
    assert set(m["stats"]) == set(m["files"]), "DML lost stats"


def test_catalog_rejects_empty_identifier_parts(spark, wh):
    """'nation.' / 'a..b' / '': os.path.join silently drops the empty
    component, so a typo'd identifier resolved to the SCHEMA directory
    — drop_table would rmtree it (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
        LakehouseCatalog,
    )

    cat = LakehouseCatalog(spark, wh)
    for bad in ("nation.", ".nation", "a..b", ""):
        with pytest.raises(ValueError, match="empty part"):
            cat.table(bad)


def test_read_expired_version_raises_cleanly(spark, wh):
    """read(version=N) on an expired snapshot raises the contracted
    ValueError, not a raw FileNotFoundError leaking an internal path
    (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, wh, "exp_read")
    t.create(spark.createDataFrame([(1,)], "v int"))
    t.append(spark.createDataFrame([(2,)], "v int"))
    t.append(spark.createDataFrame([(3,)], "v int"))
    t.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired or never existed"):
        t.read(version=1)
    with pytest.raises(ValueError, match="expired or never existed"):
        t.read(version=99)


# --- ADVICE r15: staged from_version / expired-walk contracts ---------------


def test_changelog_normalizes_staged_from_version(spark, wh):
    """A caller who checkpointed the raw log head right after a WAP
    write holds a STAGED from_version; seeding prev_files with branch
    state made the next main commit emit phantom DELETEs for
    branch-only files (ADVICE r15, reproduced)."""
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(1,), (2,)], "id long"))
    t.create_branch("audit")
    v2 = t.write_to_branch(
        "audit", spark.createDataFrame([(9,)], "id long")
    )  # staged
    v3 = t.append(spark.createDataFrame([(3,)], "id long"))  # main
    rows = sorted(
        (r["id"], r["_change_type"]) for r in t.changelog(v2, v3).collect()
    )
    assert rows == [(3, "INSERT")]


def test_main_head_json_contracts_expired_walk(spark, wh):
    """main_head_json's downward walk must raise the same contracted
    ValueError as LakehouseTable.main_head() when it crosses an expired
    snapshot — the stream source's schema()/latestOffset otherwise
    surfaced a raw FileNotFoundError (ADVICE r15, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
        main_head_json,
    )

    t = LakehouseTable(spark, wh, "t")
    v1 = t.create(spark.createDataFrame([(1,)], "id long"))
    t.create_branch("a")
    t.write_to_branch("a", spark.createDataFrame([(2,)], "id long"))
    os.remove(os.path.join(t.root, "_snapshots", f"v{v1:05d}.json"))
    with pytest.raises(ValueError, match="publish or drop staged refs"):
        main_head_json(t.root)


def test_int_vectorized_topk_empty_query_batch(spark):
    """Zero queries must yield zero rows, not a numpy dimension
    mismatch inside the executor: np.array([]) is shape (0,), so the
    batch matmul cm @ qm.T raised before the r18 short-circuit
    (ADVICE r17)."""
    from dbx_workspace_and_emr_iceberg_spark.operators.semantic import (
        quantized_unit_vectors,
    )
    from dbx_workspace_and_emr_iceberg_spark.operators.similarity import (
        cosine_topk_int_vectorized,
    )

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, v array<double>"
    )
    q = quantized_unit_vectors(corpus, "vec_id", "v")
    empty = q.filter("vec_id < 0")
    out = cosine_topk_int_vectorized(q, empty, k=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "q_id", "n_id", "sim_key", "rank",
    ]


# --- review-pass r18: snapshot-protocol invariants --------------------------


def test_expire_protects_main_head_below_staged(spark, tmp_path):
    """When staged branch snapshots occupy the trailing keep_last slots,
    the main head fell into the candidate range — expiring it wedged
    every main-side read, unrecoverably (review-pass r18, reproduced)."""
    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(3).toDF("id"))
    t.create_branch("s")
    t.write_to_branch("s", spark.range(3, 6).toDF("id"))
    assert t.expire_snapshots(keep_last=1) == []  # v1 = main head: kept
    assert t.main_head() == 1
    assert t.read().count() == 3
    with pytest.raises(ValueError, match="keep_last"):
        t.expire_snapshots(keep_last=0)


def test_update_and_merge_reject_unknown_set_columns(spark, tmp_path):
    """A typo'd SET column made the whole UPDATE/MERGE-update a silent
    no-op that still committed and reported success (review-pass r18,
    reproduced); Spark/Iceberg raise UNRESOLVED_COLUMN."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.createDataFrame([(1, 10.0)], "id long, price double"))
    with pytest.raises(ValueError, match="prce"):
        t.update_set(F.col("id") == 1, {"prce": F.lit(0.0)})
    src = spark.createDataFrame([(1, 5.0)], "id long, price double")
    with pytest.raises(ValueError, match="prce"):
        t.merge_into(src, on="id", update_cols={"prce": F.lit(0.0)})


def test_readded_column_reads_null_not_old_data(spark, tmp_path):
    """DROP then ADD of the same column resurrected the dropped
    physical values through the name-based scan (review-pass r18,
    reproduced); Iceberg's field-id semantics read NULL.  add_column
    also rejects a duplicate name (a committed duplicate-field schema
    breaks every later scan)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.createDataFrame([(1, "SECRET")], "id long, ssn string"))
    t.drop_column("ssn")
    t.add_column("ssn", "string")
    assert [r.ssn for r in t.read().collect()] == [None]
    # rows appended AFTER the re-add read their stored values
    t.append(spark.createDataFrame([(2, "new")], "id long, ssn string"))
    got = {r.id: r.ssn for r in t.read().collect()}
    assert got == {1: None, 2: "new"}
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("id", "long")


def test_rollback_refuses_staged_and_missing(spark, tmp_path):
    """CALL rollback_to_snapshot published an UNAUDITED staged snapshot
    to main, bypassing the WAP audit gate, and a missing version leaked
    FileNotFoundError (review-pass r18, reproduced).  The audited
    fast_forward publish path still works."""
    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(2).toDF("id"))
    t.create_branch("audit")
    t.write_to_branch("audit", spark.range(9).toDF("id"))
    with pytest.raises(ValueError, match="STAGED"):
        t.rollback_to(2)
    with pytest.raises(ValueError, match="no snapshot"):
        t.rollback_to(99)
    t.fast_forward("main", "audit")
    assert t.read().count() == 11  # branch write appends to its base


def test_time_travel_rewrite_skips_string_literals(spark, tmp_path):
    """The r18 literal-protection rule applied to the time-travel
    rewriter: '<managed> VERSION AS OF n' INSIDE a quoted literal was
    rewritten into a __tt_* view name, silently changing the compared
    value (review-pass r18, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.sql_dml import (
        rewrite_time_travel,
    )

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.create_table("t5", spark.range(1).toDF("id"))
    sql = "SELECT * FROM audit WHERE note = 't5 VERSION AS OF 1'"
    assert rewrite_time_travel(eng, sql) == sql
    # outside a literal the rewrite still fires
    out = rewrite_time_travel(eng, "SELECT * FROM t5 VERSION AS OF 1")
    assert "__tt_t5_version_" in out


def test_table_name_cannot_escape_warehouse(spark, tmp_path):
    """'../prod/t' wrote a table OUTSIDE the warehouse (review-pass
    r18, reproduced)."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    for bad in ("../evil", "a/b", "a\\b", "..", ""):
        with pytest.raises(ValueError, match="invalid table name"):
            LakehouseTable(spark, str(tmp_path), bad)


def test_stats_survive_staged_branch_write(spark, tmp_path):
    """Stats carry-forward read only the LOG parent — after a staged
    branch write, main files absent from the branch manifest lost
    their min/max forever and became unprunable (review-pass r18,
    reproduced)."""
    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(0, 10).toDF("id").coalesce(1))
    t.append(spark.range(100, 200).toDF("id").coalesce(1))
    t.create_branch("s")
    t.write_to_branch("s", spark.range(300, 310).toDF("id").coalesce(1))
    t.append(spark.range(400, 500).toDF("id").coalesce(1))
    m = t._read_manifest(t.main_head())
    assert all(f in m.get("stats", {}) for f in m["files"])


def test_commit_exclusive_create_detects_racer(spark, tmp_path):
    """_commit's 'w'-mode manifest write let two writers both 'win' —
    the second silently overwrote the first's same-numbered manifest
    (review-pass r18).  With the exclusive create, a manifest that
    exists while _current has already moved raises ConflictError; a
    crashed leftover (manifest present, _current NOT moved) is
    replaced so it cannot wedge the table."""
    import json as _json

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        ConflictError,
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "t")
    t.create(spark.range(1).toDF("id"))
    # STALE crashed leftover (old timestamp): v2 manifest exists,
    # _current still 1 -> recovered by replacement
    with open(t._manifest_path(2), "x") as f:
        _json.dump(
            {"files": [], "schema": t.schema_json(), "timestamp_ms": 0}, f
        )
    assert t.append(spark.range(5, 6).toDF("id")) == 2  # recovered
    assert t.read().count() == 2
    # FRESH same-version manifest = in-flight concurrent writer (its
    # os.replace of _current is microseconds away) -> ConflictError,
    # never a silent overwrite
    import time as _time

    with open(t._manifest_path(3), "x") as f:
        _json.dump(
            {
                "files": [],
                "schema": t.schema_json(),
                "timestamp_ms": int(_time.time() * 1000),
            },
            f,
        )
    with pytest.raises(ConflictError):
        t._commit({"files": [], "schema": t.schema_json(), "op": "x"}, 2)
    # and a racer whose pointer swing already landed: the stale
    # expected_parent fails the version check up front
    with open(t._current_path() + ".tmp", "w") as f:
        f.write("3")
    os.replace(t._current_path() + ".tmp", t._current_path())
    with pytest.raises(ConflictError):
        t._commit({"files": [], "schema": t.schema_json(), "op": "x"}, 2)


def test_commit_stalled_writer_not_lost(wh):
    """VERDICT-r18 #1 (reproduced, then fixed r19): writer A creates
    v(N).json then stalls >60s before the pointer swing; under the old
    heuristic-only protocol writer B declared A's manifest a crashed
    leftover, overwrote it, and BOTH writers reported success — A's
    commit silently lost.  The per-table flock makes a live stalled
    writer keep its claim: B gets a retryable ConflictError, A's
    commit survives intact."""
    import threading

    from dbx_workspace_and_emr_iceberg_spark.sources import lakehouse

    t = LakehouseTable(None, wh, "t")
    t._COMMIT_LOCK_TIMEOUT_S = 0.5
    t._commit({"files": [], "schema": {"fields": []}, "op": "create"}, 0)

    a_at_swing = threading.Event()
    b_done = threading.Event()
    orig_cp, calls = t._current_path, {}

    def gated_current_path():
        # A's 2nd call builds the swing's tmp path — stall there,
        # i.e. between manifest create and pointer swing
        th = threading.current_thread().name
        calls[th] = calls.get(th, 0) + 1
        if th == "stalledA" and calls[th] == 2:
            a_at_swing.set()
            b_done.wait(timeout=30)
        return orig_cp()

    t._current_path = gated_current_path
    # make A's manifest timestamp look >60s old so the legacy
    # staleness heuristic would have "recovered" (overwritten) it
    real_time = lakehouse.time

    class OldClockForA:
        def __getattr__(self, n):
            return getattr(real_time, n)

        def time(self):
            off = 120 if threading.current_thread().name == "stalledA" else 0
            return real_time.time() - off

    results = {}

    def writer_a():
        try:
            results["A"] = t._commit(
                {"files": ["fileA"], "schema": {"fields": []}, "op": "x"}, 1
            )
        except Exception as e:  # noqa: BLE001 — recorded for the assert
            results["A"] = repr(e)

    lakehouse.time = OldClockForA()
    try:
        ta = threading.Thread(target=writer_a, name="stalledA")
        ta.start()
        assert a_at_swing.wait(timeout=30)
        with pytest.raises(ConflictError, match="commit lock held"):
            t._commit(
                {"files": ["fileB"], "schema": {"fields": []}, "op": "x"}, 1
            )
        b_done.set()
        ta.join(timeout=30)
    finally:
        lakehouse.time = real_time
        b_done.set()

    assert results["A"] == 2  # the stalled writer's commit survived
    assert t.current_version() == 2
    assert t._read_manifest(2)["files"] == ["fileA"]


def test_commit_foreign_manifest_replacement_raises(wh):
    """The pre-swing claim verification: if the manifest we just wrote
    no longer carries our writer UUID (out-of-protocol interference),
    _commit raises instead of publishing someone else's content as our
    success, and the pointer does not move."""
    t = LakehouseTable(None, wh, "t")
    t._commit({"files": [], "schema": {"fields": []}, "op": "create"}, 0)

    orig_read = t._read_manifest

    def tampered_read(version, stats=True):
        m = orig_read(version, stats)
        if version == 2:
            m = dict(m, writer="somebody-else")
        return m

    t._read_manifest = tampered_read
    with pytest.raises(ConflictError, match="foreign writer"):
        t._commit({"files": ["mine"], "schema": {"fields": []}, "op": "x"}, 1)
    t._read_manifest = orig_read
    assert t.current_version() == 1  # pointer never swung


def test_commit_lock_released_on_failure(wh):
    """The flock is released on every exit path — a failed commit (bad
    expected_parent) must not leave the table locked."""
    t = LakehouseTable(None, wh, "t")
    t._COMMIT_LOCK_TIMEOUT_S = 0.5
    t._commit({"files": [], "schema": {"fields": []}, "op": "create"}, 0)
    with pytest.raises(ConflictError):
        t._commit({"files": [], "schema": {"fields": []}, "op": "x"}, 7)
    # immediately committable again: lock was released
    assert t._commit({"files": [], "schema": {"fields": []}, "op": "x"}, 1) == 2


# --- one table class: stats, partition spec and refs as manifest data ------


def _four_file_table(spark, warehouse, name):
    """A table built through the managed-table door with 4 data files
    holding disjoint ``k`` ranges (0..99, 100..199, ...)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    df = spark.range(400).selectExpr("id AS k", "id % 7 AS v")
    return Engine(spark, warehouse=warehouse).create_table(
        name, df.repartitionByRange(4, "k").sortWithinPartitions("k")
    )


def _assert_stats_on_every_file(t, version=None):
    m = t._read_manifest(version or t.main_head())
    missing = [f for f in m["files"] if f not in m.get("stats", {})]
    assert not missing, f"{len(missing)} of {len(m['files'])} files lack stats"


def test_partitioned_read_matches_unpartitioned_after_schema_evolution(
    spark, wh
):
    """A partitioned table reads through the same manifest-schema scan
    as an unpartitioned one: after rename_column and drop_column both
    return the same columns and values (no stale physical column, no
    NULLs for a renamed one, no dropped column resurfacing)."""
    import datetime

    df = spark.createDataFrame(
        [
            (u, datetime.datetime(2024, 1, 1 + u % 3, u), u * 10)
            for u in range(1, 20)
        ],
        "user_id long, ts timestamp, v long",
    )
    plain = LakehouseTable(spark, wh, "plain")
    plain.create(df)
    part = LakehouseTable(spark, wh, "part")
    part.create(df, partition_by=["days(ts)"])

    def snap(t):
        got = t.read()
        return got.columns, sorted(tuple(r) for r in got.collect())

    for t in (plain, part):
        t.rename_column("v", "w")
    assert snap(part) == snap(plain)
    assert snap(part)[0] == ["user_id", "ts", "w"]
    assert part.read().agg(F.sum("w")).first()[0] == 1900

    for t in (plain, part):
        t.drop_column("user_id")
    assert snap(part) == snap(plain)
    assert snap(part)[0] == ["ts", "w"]


def test_catalog_resolved_delete_keeps_stats(spark, wh):
    """A table resolved through LakehouseCatalog.table() or, over HTTP,
    RestLakehouseCatalog.table() is the same object a managed table is:
    a DELETE through it keeps min/max stats on every live file, so a
    point lookup still prunes to one file."""
    from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
        LakehouseCatalog,
    )
    from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
        RestCatalogClient,
        RestCatalogServer,
        RestLakehouseCatalog,
    )

    base = os.path.join(wh, "local", "db")
    _four_file_table(spark, base, "by_dir")
    _four_file_table(spark, base, "by_rest")
    with RestCatalogServer(wh, catalog="local") as server:
        rest = RestLakehouseCatalog(
            spark, RestCatalogClient(server.uri), default_schema="db"
        )
        resolved = [
            LakehouseCatalog(spark, wh).table("db.by_dir"),
            rest.table("db.by_rest"),
        ]
        for t in resolved:
            t.delete_where(F.col("k") == 250)
            assert t.read().count() == 399
            _assert_stats_on_every_file(t)
            assert len(t.pruned_files("k", 5, 5)) == 1


def test_rollback_to_keeps_stats(spark, wh):
    """rollback_to(v) commits v's file list with v's per-file stats,
    including the stats of files the intervening DML rewrote away."""
    t = _four_file_table(spark, wh, "rb")
    v1 = t.current_version()
    t.delete_where(F.col("k") == 250)
    t.delete_where(F.col("k") == 50)
    v = t.rollback_to(v1)
    assert t._read_manifest(v)["files"] == t._read_manifest(v1)["files"]
    _assert_stats_on_every_file(t, v)
    assert len(t.pruned_files("k", 250, 250)) == 1


def test_commit_takes_column_mappings_from_its_schema_snapshot(spark, wh):
    """A commit whose schema comes from another snapshot than main's head
    (a rollback, a branch write) takes that snapshot's renames too: a
    rename on main's head must not re-map the older schema's columns."""
    rows = [(1, 10), (2, 20)]
    df = spark.createDataFrame(rows, "k long, v long")

    t = LakehouseTable(spark, wh, "rb")
    t.create(df)
    t.rename_column("v", "w")
    t.rollback_to(1)
    assert t.read().columns == ["k", "v"]
    assert sorted(map(tuple, t.read().collect())) == rows

    b = LakehouseTable(spark, wh, "br")
    b.create(df)
    b.create_branch("b")
    b.rename_column("v", "w")
    b.write_to_branch("b", spark.createDataFrame([(3, 30)], "k long, v long"))
    assert sorted(map(tuple, b.read_ref("b").collect())) == rows + [(3, 30)]
    assert sorted(map(tuple, b.read().collect())) == rows  # main reads w


def test_footer_stats_read_outside_commit_lock(spark, wh, monkeypatch):
    """Parquet footers are read before the commit lock is taken, so a
    slow footer read never holds up concurrent committers — both for a
    commit's new files and for the live files of a table whose head
    manifest carries no stats."""
    import fcntl
    import json

    from dbx_workspace_and_emr_iceberg_spark.sources import lakehouse

    t = _four_file_table(spark, wh, "lk")
    # a head manifest written without stats: the next commit reads the
    # footers of all 4 live files plus its new one
    path = t._manifest_path(t.current_version())
    m = t._read_manifest(t.current_version())
    del m["manifests"]  # the legacy form: stats inline
    del m["stats"]
    with open(path, "w") as f:
        json.dump(m, f)

    real = lakehouse._file_column_stats
    reads = []

    def checked(p):
        fd = os.open(os.path.join(t.root, "_commit.lock"), os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)  # raises if held
            fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)
        reads.append(p)
        return real(p)

    monkeypatch.setattr(lakehouse, "_file_column_stats", checked)
    t.append(spark.range(400, 410).selectExpr("id AS k", "id % 7 AS v"))
    assert len(reads) >= 5
    _assert_stats_on_every_file(t)


def test_partition_spec_survives_reopen(spark, wh):
    """The partition spec is manifest data: a table reopened without
    naming it — by constructor, through Engine.managed and through
    LakehouseCatalog.table — writes partitioned files, prunes them and
    refuses to drop the partition source column."""
    import datetime

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
        LakehouseCatalog,
    )

    base = os.path.join(wh, "local", "db")
    schema = "ts timestamp, i long"
    LakehouseTable(spark, base, "ev").create(
        spark.createDataFrame(
            [(datetime.datetime(2024, 1, d, 6), d) for d in (1, 2, 3)], schema
        ),
        partition_by=["days(ts)"],
    )
    reopened = [
        LakehouseTable(spark, base, "ev"),
        Engine(spark, warehouse=base).managed("ev"),
        LakehouseCatalog(spark, wh).table("db.ev"),
    ]
    for n, t in enumerate(reopened, start=1):
        before = set(t._files())
        t.append(
            spark.createDataFrame([(datetime.datetime(2024, 1, 5, 6), 10 + n)], schema)
        )
        added = [f for f in t._files() if f not in before]
        assert added and all("p_days_ts=2024-01-05" in f for f in added), added
        got, kept, total = t.read_pruned(
            "ts", "2024-01-05 00:00:00", "2024-01-05 12:00:00"
        )
        assert set(added) <= set(kept) and len(kept) < len(total)
        assert sorted(r.i for r in got.collect()) == list(range(11, 11 + n))
        with pytest.raises(ValueError, match="partition source"):
            t.drop_column("ts")


# --- file-pruned copy-on-write MERGE -----------------------------------------


def _file_keys(path: str, col: str) -> set:
    import pyarrow.parquet as pq

    return set(pq.read_table(path, columns=[col]).column(col).to_pylist())


def test_merge_rewrites_only_files_holding_a_matched_key(spark, wh):
    """On a 16-file range-clustered table, a MERGE whose source touches
    one key range keeps every other file path, and ``rewritten`` is the
    number of files that hold a matched key."""
    t = LakehouseTable(spark, wh, "t")
    t.create(
        spark.range(1600)
        .selectExpr("id AS k", "id * 10 AS v")
        .repartitionByRange(16, "k")
        .sortWithinPartitions("k")
    )
    before = t._files()
    assert len(before) == 16
    src_keys = set(range(300, 340))
    holding = [f for f in before if _file_keys(f, "k") & src_keys]
    assert 1 <= len(holding) < 16
    src = spark.range(300, 340).selectExpr("id AS k", "-1L AS v").union(
        spark.range(5000, 5004).selectExpr("id AS k", "-2L AS v")
    )
    t.merge_into(src, on="k")
    m = t._read_manifest(t.main_head())
    assert m["op"] == "merge"
    assert m["rewritten"] == len(holding)
    assert [f for f in m["files"] if f in before] == [
        f for f in before if f not in holding
    ], "untouched files must be carried over unchanged"
    # kept files carry their stats over; new files get footer stats
    assert set(m["stats"]) == set(m["files"])
    got = {r.k: r.v for r in t.read().collect()}
    assert len(got) == 1604
    assert all(got[k] == -1 for k in src_keys)
    assert all(got[k] == -2 for k in range(5000, 5004))
    assert got[0] == 0 and got[1599] == 15990


def _rows(t):
    return sorted((tuple(r) for r in t.read().collect()), key=repr)


def _pruned_vs_full(spark, wh, data, merge, prep=None, partition_by=None):
    """Run one MERGE on an 8-file table (pruned) and on a one-file copy,
    which has nothing to prune and rewrites all of it; both must read
    back the same rows. Returns the pruned table and its pre-merge
    file list."""
    pruned = LakehouseTable(spark, wh, "pruned")
    pruned.create(
        data.repartitionByRange(8, "k").sortWithinPartitions("k"),
        partition_by=partition_by,
    )
    full = LakehouseTable(spark, wh, "full")
    full.create(data.coalesce(1))
    assert len(pruned._files()) > 1 and len(full._files()) == 1
    for t in (pruned, full):
        if prep:
            prep(t)
    before = pruned._files()
    for t in (pruned, full):
        merge(t)
    assert _rows(pruned) == _rows(full)
    assert full._read_manifest(full.main_head())["rewritten"] == 1
    return pruned, before


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_merge_pruned_matches_full_rewrite_null_keys_and_delete(spark, wh):
    data = _kv(
        spark,
        [(i, f"v{i}") for i in range(80)] + [(None, "n1"), (None, "n2")],
    )
    src = _kv(
        spark,
        [(5, "x"), (6, "del"), (70, "y"), (None, "null_src"), (500, "new")],
    )
    pruned, before = _pruned_vs_full(
        spark,
        wh,
        data,
        lambda t: t.merge_into(
            src,
            on="k",
            update_cols={"v": F.col("__src").getField("v")},
            delete_cond=F.col("__src").getField("v") == "del",
        ),
    )
    vals = {r.v for r in pruned.read().collect()}
    assert {"n1", "n2", "null_src", "x", "y", "new"} <= vals
    assert not {"v5", "v6", "del", "v70"} & vals
    m = pruned._read_manifest(pruned.main_head())
    assert 1 <= m["rewritten"] < len(before)


def test_merge_pruned_matches_full_rewrite_without_insert(spark, wh):
    data = _kv(spark, [(i, f"v{i}") for i in range(80)])
    src = _kv(spark, [(3, "x"), (900, "never")])
    pruned, _ = _pruned_vs_full(
        spark, wh, data, lambda t: t.merge_into(src, on="k", insert=False)
    )
    assert pruned.read().filter("k = 900").count() == 0
    assert pruned.read().filter("v = 'x'").count() == 1


def test_merge_source_matching_no_key_writes_only_inserts(spark, wh):
    data = _kv(spark, [(i, f"v{i}") for i in range(80)])
    src = _kv(spark, [(1000, "a"), (1001, "b")])
    pruned, before = _pruned_vs_full(
        spark, wh, data, lambda t: t.merge_into(src, on="k")
    )
    m = pruned._read_manifest(pruned.main_head())
    assert m["rewritten"] == 0
    assert m["files"][: len(before)] == before
    added = m["files"][len(before):]
    assert sum(len(_file_keys(f, "k")) for f in added) == 2
    # nothing matched and nothing to insert: the commit keeps the files
    v = pruned.merge_into(_kv(spark, [(2000, "z")]), on="k", insert=False)
    m2 = pruned._read_manifest(v)
    assert m2["files"] == m["files"] and m2["rewritten"] == 0


def test_merge_into_empty_table(spark, wh):
    """An empty table with no live file: the target side is an empty
    frame with the manifest schema, so every source row inserts."""
    t = LakehouseTable(spark, wh, "t")
    t.create(_kv(spark, [(1, "a")]).coalesce(1))
    t.delete_where(F.lit(True))
    # a table whose snapshot lists no file at all
    t._commit(
        {"files": [], "schema": t.schema_json(), "op": "delete"},
        t.current_version(),
    )
    assert t.read().count() == 0
    t.merge_into(_kv(spark, [(1, "x"), (2, "y")]), on="k")
    assert _rows(t) == [(1, "x"), (2, "y")]
    m = t._read_manifest(t.main_head())
    assert m["rewritten"] == 0
    # an empty table holding one empty file rewrites that file
    e = LakehouseTable(spark, wh, "e")
    e.create(spark.createDataFrame([], "k long, v string"))
    e.merge_into(_kv(spark, [(3, "z")]), on="k")
    assert _rows(e) == [(3, "z")]


def test_merge_pruned_schema_evolution_kept_files_read_null(spark, wh):
    data = _kv(spark, [(i, f"v{i}") for i in range(80)])
    src = spark.createDataFrame(
        [(4, "x", 1.5, 1), (300, "new", 2.5, 2)],
        "k long, v string, extra double, n long",
    )
    pruned, before = _pruned_vs_full(
        spark,
        wh,
        data,
        lambda t: t.merge_into(src, on="k", schema_evolution=True),
    )
    m = pruned._read_manifest(pruned.main_head())
    assert [f["name"] for f in m["schema"]["fields"]] == ["k", "v", "extra", "n"]
    kept = [f for f in m["files"] if f in before]
    assert kept and len(kept) == len(before) - m["rewritten"]
    got = {r.k: (r.extra, r.n) for r in pruned.read().collect()}
    assert got[4] == (1.5, 1) and got[300] == (2.5, 2)
    assert all(v == (None, None) for k, v in got.items() if k not in (4, 300))


def test_merge_pruned_partitioned_table(spark, wh):
    data = _kv(spark, [(i, f"v{i}") for i in range(80)])
    src = _kv(spark, [(7, "x"), (8, "y"), (99, "new")])
    pruned, before = _pruned_vs_full(
        spark,
        wh,
        data,
        lambda t: t.merge_into(src, on="k"),
        partition_by=["bucket(4, k)"],
    )
    m = pruned._read_manifest(pruned.main_head())
    assert 1 <= m["rewritten"] < len(before)
    assert all("p_bucket_k=" in f for f in m["files"])


def test_merge_pruned_on_renamed_key_column(spark, wh):
    """Files written before rename_column store the key under its old
    physical name; discovery and the rewrite both resolve it."""
    data = _kv(spark, [(i, f"v{i}") for i in range(80)])
    src = spark.createDataFrame([(9, "x"), (600, "new")], "key long, v string")
    pruned, before = _pruned_vs_full(
        spark,
        wh,
        data,
        lambda t: t.merge_into(src, on="key"),
        prep=lambda t: t.rename_column("k", "key"),
    )
    m = pruned._read_manifest(pruned.main_head())
    assert 1 <= m["rewritten"] < len(before)
    got = {r.key: r.v for r in pruned.read().collect()}
    assert got[9] == "x" and got[600] == "new" and got[10] == "v10"


def test_merge_one_file_table_skips_discovery(spark, wh, monkeypatch):
    t = LakehouseTable(spark, wh, "t")
    t.create(_kv(spark, [(1, "a"), (2, "b")]).coalesce(1))
    calls = []
    real = t._affected_files
    monkeypatch.setattr(
        t, "_affected_files", lambda *a: calls.append(a) or real(*a)
    )
    t.merge_into(_kv(spark, [(2, "x"), (3, "c")]), on="k")
    assert calls == [], "a one-file table has nothing to prune"
    assert _rows(t) == [(1, "a"), (2, "x"), (3, "c")]
    assert t._read_manifest(t.main_head())["rewritten"] == 1


def test_merge_unstable_source_cannot_duplicate_a_kept_key(spark, wh, tmp_path):
    """A source whose rows change between evaluations: its first two
    evaluations yield a fresh key, later ones a key held by a file the
    discovery would keep. The merge must classify, discover and join
    against one materialization, so the key never lands twice."""
    t = LakehouseTable(spark, wh, "t")
    t.create(
        spark.range(80)
        .selectExpr("id AS k", "CAST(id AS STRING) AS v")
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    counter = tmp_path / "evaluations"
    counter.write_text("0")

    @F.udf("long")
    def drifting_key(_):
        n = int(counter.read_text()) + 1
        counter.write_text(str(n))
        return 1000 if n <= 2 else 40

    src = (
        spark.range(1)
        .coalesce(1)
        .select(drifting_key.asNondeterministic()("id").alias("k"))
        .withColumn("v", F.lit("src"))
    )
    t.merge_into(src, on="k")
    ks = [r.k for r in t.read().collect()]
    assert len(ks) == len(set(ks)), "a key was inserted beside its kept row"


def test_input_path_matches_manifest_paths_with_plus(spark, wh):
    """Partition values keep a literal '+' on disk; the one scan-to-
    manifest path mapping must not read it as a space, or initial
    defaults and CoW discovery miss those files."""
    df = spark.createDataFrame(
        [(1, "a+b c:d"), (2, "plain")], "id long, s string"
    )
    t = LakehouseTable(spark, wh, "t")
    t.create(df, partition_by=["identity(s)"])
    assert any("+" in f for f in t._files())
    t.add_column("d", "long", default=7)
    assert {r.id: r.d for r in t.read().collect()} == {1: 7, 2: 7}
    t.delete_where(F.col("s") == "a+b c:d")
    assert [r.id for r in t.read().collect()] == [2]


# --- per-file record counts ---------------------------------------------------


def test_record_count_sums_manifest_counts(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    assert t.record_count() == 0
    t.create(spark.range(100).selectExpr("id AS k").repartition(4))
    t.append(spark.range(100, 130).selectExpr("id AS k"))
    t.delete_where(F.col("k") < 10)
    m = t._read_manifest(t.main_head())
    assert all("record_count" in m["stats"][f] for f in m["files"])
    assert t.record_count() == t.read().count() == 120
    assert t.record_count(1) == 100


def test_record_count_falls_back_to_scan_for_older_manifests(spark, wh):
    """A manifest whose stats predate per-file record counts still
    reports the right total (by scanning), and commits on top of it
    carry the legacy entries forward unchanged."""
    import json

    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(50).selectExpr("id AS k").repartition(3))
    path = t._manifest_path(t.main_head())
    m = t._read_manifest(t.main_head())
    del m["manifests"]  # the legacy form: stats inline
    for s in m["stats"].values():
        del s["record_count"]
    with open(path, "w") as fh:
        json.dump(m, fh)
    assert t.record_count() == 50
    t.append(spark.range(50, 60).selectExpr("id AS k"))
    m = t._read_manifest(t.main_head())
    assert any("record_count" not in m["stats"][f] for f in m["files"])
    assert t.record_count() == 60


def test_add_column_stores_a_parseable_type(spark, wh):
    """A DDL type name is stored in the JSON form StructType.fromJson
    reads back: 'bigint' stored as given made the next read() fail to
    parse the manifest schema."""
    from pyspark.sql.types import LongType

    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(1,), (2,)], "k long"))
    t.add_column("c", "bigint")
    df = t.read()
    assert isinstance(df.schema["c"].dataType, LongType)
    assert sorted((r.k, r.c) for r in df.collect()) == [(1, None), (2, None)]


def test_log_walks_read_each_manifest_at_most_twice(spark, wh, monkeypatch):
    """changelog() and read_incremental() read the snapshot log once
    per call (plus main-head resolution), not once per version pair:
    over 12 commits no manifest file is opened more than twice."""
    import builtins
    import collections
    import re

    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(0,)], "k long"))
    for i in range(1, 9):
        t.append(spark.createDataFrame([(i,)], "k long"))
    t.create_branch("b")
    t.write_to_branch("b", spark.createDataFrame([(100,)], "k long"))
    t.append(spark.createDataFrame([(9,)], "k long"))
    t.append(spark.createDataFrame([(10,)], "k long"))
    assert t.current_version() == 12

    real_open = builtins.open
    opens: collections.Counter = collections.Counter()

    def counting_open(file, *args, **kwargs):
        if isinstance(file, str) and re.search(r"_snapshots/v\d+\.json$", file):
            opens[file] += 1
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting_open)
    for read in (t.changelog, t.read_incremental):
        opens.clear()
        df = read(0)
        assert len(opens) == 12  # every version was read ...
        assert max(opens.values()) <= 2, opens  # ... at most twice
        monkeypatch.setattr(builtins, "open", real_open)
        assert sorted(r.k for r in df.collect()) == list(range(11))
        monkeypatch.setattr(builtins, "open", counting_open)


@pytest.mark.parametrize("default", [None, 7])
def test_rename_then_readd_column_reads_default_not_old_values(
    spark, wh, default
):
    """A column renamed away and re-added under its old name: the
    pre-rename files store the renamed column under that name, so they
    read the re-added column as its initial default (or NULL), and the
    planner never prunes it on those files' stats."""
    t = LakehouseTable(spark, wh, "t")
    t.create(
        spark.range(0, 40, 1, 4).selectExpr("id AS k", "CAST(id AS string) AS v")
    )
    t.rename_column("k", "k2")
    assert len(t.pruned_files("k2", 0, 9)) == 1  # old files prune on k
    t.add_column("k", "long", default=default)
    rows = t.read().collect()
    assert sorted(r.k2 for r in rows) == list(range(40))
    assert {r.k for r in rows} == {default}
    # the old files' physical k spans 0..39; the logical k does not
    assert len(t.pruned_files("k", 100, 200)) == 4
    assert len(t.pruned_files("k2", 0, 9)) == 1
    if default is not None:
        assert t.read_range("k", default, default).count() == 40
        t.delete_where(F.expr(f"k = {default} AND k2 < 5"))
        assert t.read().count() == 35
    # a file written after the re-add stores k physically and prunes on
    # it: the one the DELETE rewrote (k = 7) drops, the new one is kept
    t.append(
        spark.createDataFrame(
            [(100, "x", 500)], "k2 long, v string, k long"
        ).coalesce(1)
    )
    assert len(t.pruned_files("k", 500, 500)) == (5 if default is None else 4)
    assert len(t.pruned_files("k2", 100, 100)) == 1
    assert t.read_range("k", 500, 500).collect()[0].k2 == 100


def test_decimal_column_commits_without_stats(spark, wh):
    """A DECIMAL column's footer stats are not decodable or JSON-safe:
    the table still commits, the column gets no range, and pruning on
    it keeps every file."""
    import decimal

    t = LakehouseTable(spark, wh, "dec")
    t.create(
        spark.createDataFrame(
            [(1, decimal.Decimal("1.50")), (2, decimal.Decimal("2.25"))],
            "k long, p decimal(10,2)",
        ).coalesce(1)
    )
    stats = t._read_manifest(t.main_head())["stats"]
    assert all("p" not in s["min"] and "k" in s["min"] for s in stats.values())
    assert len(t.pruned_files("p", 5, 6)) == 1
    assert [r.k for r in t.read_range("p", 2, 3).collect()] == [2]


# --- stats manifests ----------------------------------------------------------


def _stats_of(t, ref) -> dict:
    import json

    with open(os.path.join(t.root, ref["path"])) as f:
        return json.load(f)


def _stats_dir(t) -> set[str]:
    d = os.path.join(t.root, "_stats")
    names = os.listdir(d) if os.path.isdir(d) else []
    return {os.path.join("_stats", n) for n in names}


def _referenced(t) -> set[str]:
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import manifests

    return {
        r["path"]
        for _, m in manifests(t.root)
        for r in m.get("manifests", ())
    }


def _write_one_file(t, i: int) -> str:
    """A one-row parquet data file written beside the table's batches,
    outside Spark, for metadata-only commits."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(t.data_dir, f"b{i:03d}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "part-0.parquet")
    pq.write_table(pa.table({"k": pa.array([i], pa.int64())}), path)
    return path


def test_append_writes_a_stats_manifest_of_its_new_files_only(spark, tmp_path):
    """A one-file append writes stats for that file alone, whatever the
    table's size: the new stats manifest is the same size on a 2-file
    and a 16-file table, and the parent's stats manifests are reused by
    path."""
    sizes = {}
    for n in (2, 16):
        t = LakehouseTable(spark, str(tmp_path / f"w{n:02d}"), "t")
        t.create(spark.range(0, 1600, 1, n).selectExpr("id AS k"))
        before = t._read_manifest(t.main_head(), stats=False)["manifests"]
        t.append(spark.range(5000, 5100, 1, 1).selectExpr("id AS k"))
        m = t._read_manifest(t.main_head())
        added = [f for f in m["files"] if f not in t._files(1)]
        assert len(added) == 1
        assert m["manifests"][:-1] == before  # reused by path
        new = m["manifests"][-1]
        assert new["entries"] == 1
        assert set(_stats_of(t, new)) == set(added)
        assert set(m["stats"]) == set(m["files"])
        sizes[n] = os.path.getsize(os.path.join(t.root, new["path"]))
    assert sizes[16] == sizes[2], sizes


def test_stats_cover_exactly_the_files_after_every_commit(spark, wh):
    """Every kind of commit leaves stats for exactly its live files,
    equal to the footer stats of each file."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        _file_column_stats,
    )

    t = LakehouseTable(spark, wh, "t")

    def check(v):
        m = t._read_manifest(v)
        assert set(m["stats"]) == set(m["files"]), m["op"]
        for f in m["files"]:
            assert m["stats"][f] == _file_column_stats(f), m["op"]

    def rows(lo, hi, n=1):
        return spark.range(lo, hi, 1, n).selectExpr("id AS k", "id % 7 AS v")

    check(t.create(rows(0, 400, 4).repartitionByRange(4, "k")))
    check(t.append(rows(400, 450)))
    check(t.delete_where(F.col("k") < 10))
    check(t.update_set(F.col("k").between(200, 210), {"v": F.lit(-1)}))
    check(t.merge_into(rows(395, 405), on="k"))
    check(t.rollback_to(2))
    t.create_branch("b")
    check(t.write_to_branch("b", rows(900, 910)))
    check(t.append(rows(950, 960)))
    check(t.cherrypick(7))
    t.create_branch("c")
    check(t.write_to_branch("c", rows(970, 980)))
    check(t.fast_forward("main", "c"))
    check(t.rewrite_manifests())


def test_rollback_reuses_the_base_stats_manifests(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(0, 100, 1, 2).selectExpr("id AS k"))
    t.append(spark.range(100, 110, 1, 1).selectExpr("id AS k"))
    before = _stats_dir(t)
    v = t.rollback_to(1)
    assert _stats_dir(t) == before  # wrote none
    assert (
        t._read_manifest(v, stats=False)["manifests"]
        == t._read_manifest(1, stats=False)["manifests"]
    )


def test_expire_keeps_only_referenced_stats_manifests(spark, wh):
    """expire_snapshots deletes the stats manifests no retained snapshot
    references and keeps the rest, including those a retained snapshot
    reuses from an expired one."""
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(0, 100, 1, 2).selectExpr("id AS k"))
    for i in range(3):
        t.append(spark.range(100 + 10 * i, 110 + 10 * i, 1, 1).selectExpr("id AS k"))
    t.delete_where(F.col("k") == 105)
    assert len(_stats_dir(t)) >= 3
    t.expire_snapshots(keep_last=1)
    head = t._read_manifest(t.main_head())
    refs = {r["path"] for r in head["manifests"]}
    assert _stats_dir(t) == refs
    assert set(head["stats"]) == set(head["files"])
    assert t.read().count() == 129


def test_small_commits_keep_logarithmic_stats_manifests(spark, wh):
    """64 successive one-file commits: the tiered merge keeps the head's
    stats manifests at O(log files), and every file keeps its stats."""
    t = LakehouseTable(spark, wh, "t")
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}
    ]}
    files: list[str] = []
    v = 0
    for i in range(65):
        files = files + [_write_one_file(t, i)]
        v = t._commit({"files": files, "schema": schema, "op": "append"}, v)
    m = t._read_manifest(v)
    assert len(m["manifests"]) <= 7, [r["entries"] for r in m["manifests"]]
    assert sum(r["entries"] for r in m["manifests"]) == 65
    assert set(m["stats"]) == set(files)
    assert [m["stats"][f]["min"]["k"] for f in files] == list(range(65))
    # deleting most files with small commits: the refs' dead entries stay
    # within twice the live files instead of growing with history
    while len(files) > 3:
        files = files[2:] if len(files) % 3 else files[1:]
        v = t._commit({"files": files, "schema": schema, "op": "delete"}, v)
        m = t._read_manifest(v)
        assert sum(r["entries"] for r in m["manifests"]) <= 2 * len(files)
        assert set(m["stats"]) == set(files)
        assert _stats_dir(t) >= _referenced(t)


def test_lost_stats_manifest_is_healed_by_commit_and_rewrite(spark, wh):
    """A referenced stats manifest that goes missing loses no stats for
    good: a commit that absorbs it reads the footers of its live files,
    and rewrite_manifests restores the entries of one it kept."""
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        _file_column_stats,
    )

    t = LakehouseTable(spark, wh, "t")
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}
    ]}

    def commit(files, v):
        v = t._commit({"files": files, "schema": schema, "op": "append"}, v)
        return v, t._read_manifest(v)

    def lose(ref):
        os.remove(os.path.join(t.root, ref["path"]))

    # absorbed by the next commit: its files' stats come from the footers
    files = [_write_one_file(t, i) for i in range(3)]
    v, m = commit(files, 0)
    lose(m["manifests"][0])
    files = files + [_write_one_file(t, i) for i in range(3, 6)]
    v, m = commit(files, v)
    assert {f: _file_column_stats(f) for f in files} == m["stats"]
    assert _stats_dir(t) == {r["path"] for r in m["manifests"]}
    # too large to absorb: rewrite_manifests repairs it
    big = m["manifests"][0]
    assert big["entries"] == 6
    lose(big)
    files = files + [_write_one_file(t, 6)]
    v, m = commit(files, v)
    assert big in m["manifests"] and set(m["stats"]) == {files[-1]}
    v = t.rewrite_manifests()
    m = t._read_manifest(v)
    assert {f: _file_column_stats(f) for f in files} == m["stats"]
    assert len(m["manifests"]) == 1


def test_refused_commit_leaves_no_stats_manifest(spark, wh):
    t1 = LakehouseTable(spark, wh, "t")
    t1.create(spark.range(0, 10, 1, 1).selectExpr("id AS k"))
    t2 = LakehouseTable(spark, wh, "t")
    t1.append(spark.range(10, 20, 1, 1).selectExpr("id AS k"))
    stray = _write_one_file(t2, 99)
    with pytest.raises(ConflictError):
        t2._commit(
            {"files": t2._files(1) + [stray], "schema": t2.schema_json(), "op": "x"},
            1,
        )
    assert _stats_dir(t1) == _referenced(t1)


def test_legacy_inline_stats_migrate_once(spark, wh):
    """A snapshot written with inline stats reads as written; the next
    commit moves those stats into one stats manifest, and the commit
    after that writes only its own file's."""
    import json

    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(0, 300, 1, 3).selectExpr("id AS k"))
    m = t._read_manifest(1)
    del m["manifests"]
    with open(t._manifest_path(1), "w") as f:
        json.dump(m, f)
    legacy = t._read_manifest(1)
    assert "manifests" not in legacy and set(legacy["stats"]) == set(legacy["files"])
    t.append(spark.range(300, 310, 1, 1).selectExpr("id AS k"))
    m2 = t._read_manifest(2)
    assert [r["entries"] for r in m2["manifests"]] == [4]
    [new] = [f for f in t._files(2) if f not in legacy["files"]]
    assert m2["stats"] == {**legacy["stats"], new: m2["stats"][new]}
    t.append(spark.range(310, 320, 1, 1).selectExpr("id AS k"))
    m3 = t._read_manifest(3, stats=False)
    assert m3["manifests"][0] == m2["manifests"][0]
    assert [r["entries"] for r in m3["manifests"]] == [4, 1]
    assert t.pruned_files("k", 0, 50) == t._files(1)[:1]


def test_rewrite_manifests_compacts_to_one_stats_manifest(spark, wh):
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(0, 100, 1, 2).selectExpr("id AS k"))
    for i in range(3):
        t.append(spark.range(100 + 10 * i, 110 + 10 * i, 1, 1).selectExpr("id AS k"))
    t.delete_where(F.col("k") == 0)
    files = t._files()
    assert len(t._read_manifest(t.main_head(), stats=False)["manifests"]) > 1
    v = t.rewrite_manifests()
    m = t._read_manifest(v)
    assert m["files"] == sorted(files)
    [ref] = m["manifests"]
    assert set(_stats_of(t, ref)) == set(files) and ref["entries"] == len(files)
    assert m["stats"] == t._read_manifest(v - 1)["stats"]


def test_merge_schema_evolution_does_not_revive_a_dropped_column(spark, wh):
    """A column dropped and brought back by a schema-evolving MERGE reads
    NULL in the pre-existing rows, as add_column's does — not the values
    the dropped column left in the data files."""
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.createDataFrame([(1, "old"), (2, "old2")], "k long, v string"))
    t.drop_column("v")
    src = spark.createDataFrame([(3, "new")], "k long, v string")
    t.merge_into(src, on="k", schema_evolution=True)
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, None), (2, None), (3, "new")
    ]
    # a multi-file target: kept and rewritten files both read NULL
    t2 = LakehouseTable(spark, wh, "t2")
    t2.create(
        spark.createDataFrame(
            [(i, f"old{i}") for i in range(8)], "k long, v string"
        ).repartitionByRange(4, "k")
    )
    t2.drop_column("v")
    src2 = spark.createDataFrame([(0, "upd"), (9, "new")], "k long, v string")
    t2.merge_into(src2, on="k", update_cols={}, schema_evolution=True)
    got = dict(tuple(r) for r in t2.read().collect())
    assert got == {**{i: None for i in range(8)}, 9: "new"}


def test_expire_and_orphan_sweep_remove_checksum_sidecars(spark, wh):
    """Deleting a data file deletes its ``.crc`` sidecar, and a write
    batch left holding only its _SUCCESS markers goes with it."""
    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(0, 30, 1, 1).selectExpr("id AS k"))
    for i in range(3):
        t.delete_where(F.col("k") == i)

    def debris():
        out = []
        for d, _dirs, names in os.walk(t.data_dir):
            for n in names:
                if n.endswith(".parquet.crc") and n[1:-4] not in names:
                    out.append(os.path.join(d, n))
        return out

    def batches():
        return set(os.listdir(t.data_dir))

    t.expire_snapshots(keep_last=1)
    assert debris() == []
    live = {os.path.relpath(f, t.data_dir).split(os.sep)[0] for f in t._files()}
    assert batches() == live
    # an uncommitted write is an orphan batch: swept whole
    t._write_files(spark.range(5).selectExpr("id AS k"), [])
    assert len(batches()) == len(live) + 1
    removed = t.remove_orphan_files()
    assert removed and all(r.endswith(".parquet") for r in removed)
    assert batches() == live and debris() == []
    assert t.read().count() == 27


def test_orphan_sweep_removes_deletion_debris(spark, wh):
    """Debris that deleting data files without their sidecars and batch
    dirs leaves behind: a checksum sidecar whose data file is gone and
    a write batch holding only its _SUCCESS markers. The sweep removes
    both, honours ``older_than_ms`` and leaves the live table whole."""
    import time

    t = LakehouseTable(spark, wh, "t")
    t.create(spark.range(0, 30, 1, 2).selectExpr("id AS k"))
    live_batch = os.path.dirname(t._files()[0])
    sidecar = os.path.join(live_batch, ".part-00009-gone.snappy.parquet.crc")
    spent = os.path.join(t.data_dir, "0123456789ab")
    spent_with_sidecar = os.path.join(t.data_dir, "ba9876543210")
    planted = [
        sidecar,
        os.path.join(spent, "_SUCCESS"),
        os.path.join(spent, "._SUCCESS.crc"),
        os.path.join(spent_with_sidecar, "_SUCCESS"),
        os.path.join(spent_with_sidecar, ".part-00000-x.snappy.parquet.crc"),
    ]
    for p in planted:
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w"):
            pass
    assert t.remove_orphan_files(older_than_ms=0) == []
    assert all(os.path.exists(p) for p in planted)
    removed = t.remove_orphan_files(older_than_ms=int(time.time() * 1000) + 60_000)
    assert sorted(removed) == sorted([
        os.path.relpath(sidecar, t.data_dir),
        os.path.relpath(planted[-1], t.data_dir),
        "0123456789ab",
    ])
    assert not any(os.path.exists(p) for p in planted)
    assert not os.path.exists(spent) and not os.path.exists(spent_with_sidecar)
    assert os.listdir(t.data_dir) == [os.path.basename(live_batch)]
    assert t.read().count() == 30


def test_racing_commits_leak_no_stats_manifest(spark, wh):
    """Eight threads race one-file commits with retries: every commit
    lands once, every file keeps its stats, and the refused attempts
    leave no stats manifest behind."""
    import sys
    import threading

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        commit_with_retries,
    )

    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}
    ]}
    LakehouseTable(spark, wh, "t")._commit(
        {"files": [], "schema": schema, "op": "create"}, 0
    )
    errors = []

    def writer(w):
        t = LakehouseTable(spark, wh, "t")
        try:
            for j in range(4):
                f = _write_one_file(t, 10 * w + j)

                def op(f=f):
                    parent = t.current_version()
                    files = t._files(parent) + [f]
                    return t._commit(
                        {"files": files, "schema": schema, "op": "append"}, parent
                    )

                commit_with_retries(op, retries=200, backoff_s=0.001)
        except Exception as e:  # reported below; the thread must end
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    t = LakehouseTable(spark, wh, "t")
    m = t._read_manifest(t.current_version())
    assert len(m["files"]) == len(set(m["files"])) == 32
    assert set(m["stats"]) == set(m["files"])
    assert _stats_dir(t) == _referenced(t)
