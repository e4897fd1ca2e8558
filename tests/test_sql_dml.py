"""Unit tests for the SQL DML front door (sources/sql_dml.py): what the
session's parser reads each statement into, plus end-to-end engine
round trips per statement kind.

Execution semantics are covered by the m12_sql_dml_door registered
query and the LakehouseTable unit tests; these tests pin the grammar:
what must parse, into what, and what must be rejected loudly.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml


# --- classify --------------------------------------------------------------


@pytest.mark.parametrize(
    ("sql", "kind"),
    [
        ("DELETE FROM t WHERE x > 1", "DELETE"),
        ("  delete from t", "DELETE"),
        ("UPDATE t SET x = 1", "UPDATE"),
        ("MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE", "MERGE"),
        ("SELECT * FROM t", None),
        ("-- comment\nSELECT 1", None),
        ("", None),
    ],
)
def test_classify(spark, sql, kind):
    assert sql_dml.classify(sql) == kind


# --- DELETE ----------------------------------------------------------------


def test_parse_delete_with_where(spark):
    assert sql_dml.parse_delete("DELETE FROM tbl WHERE a < 5 AND b IS NULL") == (
        "tbl",
        "a < 5 AND b IS NULL",
    )


def test_parse_delete_without_where(spark):
    assert sql_dml.parse_delete("DELETE FROM tbl;") == ("tbl", None)


# --- UPDATE ----------------------------------------------------------------


def test_parse_update_multi_assignments(spark):
    tbl, assigns, where = sql_dml.parse_update(
        "UPDATE t SET a = upper(concat(a, ',x')), b = b + 1 WHERE c IN (1, 2)"
    )
    assert tbl == "t"
    # the comma inside concat('...') must not split the assignment list
    assert assigns == {"a": "upper(concat(a, ',x'))", "b": "b + 1"}
    assert where == "c IN (1, 2)"


def test_parse_update_no_where(spark):
    tbl, assigns, where = sql_dml.parse_update("UPDATE t SET a = 1")
    assert (tbl, where) == ("t", None)
    assert assigns == {"a": "1"}


# --- MERGE -----------------------------------------------------------------


def test_parse_merge_full_form(spark):
    spec = sql_dml.parse_merge(
        """
        MERGE INTO tgt AS t USING src AS s
        ON t.k = s.k
        WHEN MATCHED AND s.flag = 'drop' THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = t.n + 1
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert spec["target"] == "tgt" and spec["source"] == "src"
    assert spec["target_alias"] == "t" and spec["source_alias"] == "s"
    assert spec["on"] == "k"
    assert spec["insert"] is True
    assert spec["delete_cond"] == "s.flag = 'drop'"
    assert spec["update_set"] == {"v": "s.v", "n": "t.n + 1"}


def test_parse_merge_no_aliases(spark):
    spec = sql_dml.parse_merge(
        "MERGE INTO tgt USING src ON k WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["target"] == "tgt" and spec["source"] == "src"
    assert spec["target_alias"] is None and spec["source_alias"] is None
    assert spec["on"] == "k" and spec["insert"] is True


def test_parse_merge_rejects_mismatched_keys(spark):
    with pytest.raises(ValueError, match="same-named"):
        sql_dml.parse_merge(
            "MERGE INTO a USING b ON a.x = b.y WHEN MATCHED THEN DELETE"
        )


def test_parse_merge_rejects_insert_columns(spark):
    with pytest.raises(ValueError, match="INSERT \\*"):
        sql_dml.parse_merge(
            "MERGE INTO a USING b ON k "
            "WHEN NOT MATCHED THEN INSERT (x) VALUES (b.x)"
        )


def _merge_rows(spark, tmp_path, target, source, whens):
    """The target's rows after ``MERGE INTO <target> t USING <source> s
    ON t.k = s.k <whens>`` through Engine.sql; ``target`` and ``source``
    are (rows, schema) pairs."""
    import uuid

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    name = f"mg_{uuid.uuid4().hex[:8]}"
    eng.create_table(name, spark.createDataFrame(*target).coalesce(1))
    spark.createDataFrame(*source).createOrReplaceTempView(f"{name}_src")
    try:
        eng.sql(f"MERGE INTO {name} t USING {name}_src s ON t.k = s.k {whens}")
        return sorted(tuple(r) for r in eng.table(name).collect())
    finally:
        spark.catalog.dropTempView(f"{name}_src")
        spark.catalog.dropTempView(name)


def test_rewrite_aliases(spark, tmp_path):
    """s.* reads the source row and t.* the target row."""
    assert _merge_rows(
        spark, tmp_path,
        ([(1, 10, 5)], "k int, v int, n int"),
        ([(1, 100, 50, 7)], "k int, v int, n int, other int"),
        "WHEN MATCHED THEN UPDATE SET v = s.v + t.n - s.other",
    ) == [(1, 100 + 5 - 7, 5)]


def test_update_only_merge_source_lacks_target_columns(spark, tmp_path):
    """An update-only MERGE reads from the source only what its SET
    names: the source need not hold the target's other columns."""
    assert _merge_rows(
        spark, tmp_path,
        ([(1, 10, 5), (2, 20, 6)], "k int, v int, n int"),
        ([(1, 100, 1)], "k int, v int, other int"),
        "WHEN MATCHED THEN UPDATE SET v = s.v + t.n - s.other",
    ) == [(1, 104, 5), (2, 20, 6)]


def test_insert_star_merge_needs_every_target_column(spark, tmp_path):
    """INSERT * still reads every target column from the source, so a
    source without one of them is refused."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="FIELD_NOT_FOUND"):
        _merge_rows(
            spark, tmp_path,
            ([(1, 10, 5)], "k int, v int, n int"),
            ([(2, 100, 1)], "k int, v int, other int"),
            "WHEN NOT MATCHED THEN INSERT *",
        )


# --- end-to-end through the engine ----------------------------------------


def test_engine_sql_dml_round_trip(spark):
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    wh = tempfile.mkdtemp(prefix="sqldml_")
    try:
        eng = Engine(spark, warehouse=wh)
        df = spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, v string, n int"
        ).coalesce(1)
        eng.create_table("items", df)

        r = eng.sql("UPDATE items SET n = n * 2 WHERE k <= 2").collect()[0]
        assert (r.operation, r.n_rows) == ("update", 3)
        assert {
            (x.k, x.n) for x in eng.sql("SELECT k, n FROM items").collect()
        } == {(1, 20), (2, 40), (3, 30)}

        r = eng.sql("DELETE FROM items WHERE v = 'c'").collect()[0]
        assert (r.operation, r.n_rows) == ("delete", 2)

        spark.createDataFrame(
            [(2, "b2", 99), (9, "new", 9)], "k int, v string, n int"
        ).createOrReplaceTempView("items_src")
        r = eng.sql(
            "MERGE INTO items AS t USING items_src AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        ).collect()[0]
        assert (r.operation, r.n_rows) == ("merge", 3)
        assert {
            (x.k, x.v) for x in eng.sql("SELECT k, v FROM items").collect()
        } == {(1, "a"), (2, "b2"), (9, "new")}

        # non-DML still routes to plain Spark SQL
        assert eng.sql("SELECT 1 AS one").collect()[0].one == 1
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- property-based grammar round-trip --------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True).filter(
    # exclude the grammar's own keywords so generated aliases can't
    # collide with clause boundaries
    lambda s: s not in {"as", "using", "on", "when", "set", "where", "from"}
)
_NUM = st.integers(min_value=0, max_value=10_000)


@given(table=_IDENT, col=_IDENT, n=_NUM)
@settings(max_examples=50, deadline=None)
def test_delete_roundtrip_property(spark, table, col, n):
    tbl, where = sql_dml.parse_delete(f"DELETE FROM {table} WHERE {col} > {n}")
    assert tbl == table and where == f"{col} > {n}"


@given(table=_IDENT, cols=st.lists(_IDENT, min_size=1, max_size=4, unique=True), n=_NUM)
@settings(max_examples=50, deadline=None)
def test_update_roundtrip_property(spark, table, cols, n):
    sets = ", ".join(f"{c} = {c} + {n}" for c in cols)
    tbl, assigns, where = sql_dml.parse_update(
        f"UPDATE {table} SET {sets} WHERE {cols[0]} < {n}"
    )
    assert tbl == table
    assert assigns == {c: f"{c} + {n}" for c in cols}
    assert where == f"{cols[0]} < {n}"


@given(
    tgt=_IDENT,
    src=_IDENT,
    key=_IDENT,
    val=_IDENT,
    aliased=st.booleans(),
    with_update=st.booleans(),
    with_insert=st.booleans(),
    with_delete=st.booleans(),
)
@settings(max_examples=80, deadline=None)
def test_merge_roundtrip_property(
    spark, tgt, src, key, val, aliased, with_update, with_insert, with_delete
):
    if not (with_update or with_insert or with_delete):
        with_insert = True
    ta, sa = ("t", "s") if aliased else (tgt, src)
    head = (
        f"MERGE INTO {tgt} AS t USING {src} AS s"
        if aliased
        else f"MERGE INTO {tgt} USING {src}"
    )
    clauses = []
    if with_delete:
        clauses.append(f"WHEN MATCHED AND {sa}.{val} = 'x' THEN DELETE")
    if with_update:
        clauses.append(f"WHEN MATCHED THEN UPDATE SET {ta}.{val} = {sa}.{val}")
    if with_insert:
        clauses.append("WHEN NOT MATCHED THEN INSERT *")
    stmt = f"{head} ON {ta}.{key} = {sa}.{key} " + " ".join(clauses)
    spec = sql_dml.parse_merge(stmt)
    assert spec["target"] == tgt and spec["source"] == src
    assert spec["on"] == key
    assert spec["insert"] is with_insert
    assert (spec["delete_cond"] is not None) is with_delete
    assert (spec["update_set"] is not None) is with_update
    if with_update:
        assert spec["update_set"] == {val: f"{sa}.{val}"}


# --- SELECT-side time travel rewriter ---------------------------------------


def test_time_travel_rewriter_edges(spark, tmp_path):
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("tt_edge", nat.coalesce(1))
    t.append(nat.limit(2).selectExpr("n_nationkey + 700 AS n_nationkey", "n_name", "n_regionkey"))
    n0 = nat.count()

    # trailing semicolon / paren must not ride into the parsed value
    assert eng.sql("SELECT count(*) AS n FROM tt_edge VERSION AS OF 1;").collect()[0].n == n0
    assert (
        eng.sql("SELECT * FROM (SELECT * FROM tt_edge VERSION AS OF 1) x").count()
        == n0
    )
    # quoted version number parses
    assert eng.sql("SELECT count(*) AS n FROM tt_edge VERSION AS OF '1'").collect()[0].n == n0
    # epoch-seconds TIMESTAMP AS OF: a second past the LAST commit must
    # resolve the current snapshot (v1-time probing is ms-tie-flaky in
    # a test; m16 covers it with an explicit ms-tie wait)
    v2_ts = t.snapshots().collect()[-1].ts_ms
    epoch_s = v2_ts // 1000 + 1
    assert (
        eng.sql(f"SELECT count(*) AS n FROM tt_edge TIMESTAMP AS OF {epoch_s}").collect()[0].n
        == n0 + 2
    )
    # unparseable value falls through untouched -> Spark's own error
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.sql("SELECT count(*) FROM tt_edge VERSION AS OF banana").collect()
    # qualified references are left for the catalog layer (no mangling)
    out = sql_dml.rewrite_time_travel(eng, "SELECT * FROM cat.db.tt_edge VERSION AS OF 1")
    assert "cat.db.tt_edge VERSION AS OF 1" in out
    for v in spark.catalog.listTables():
        if v.name.startswith("__tt_tt_edge") or v.name == "tt_edge":
            spark.catalog.dropTempView(v.name)


def test_time_travel_views_deterministic_and_dropped(spark, tmp_path):
    """__tt_* views: (1) names derive from a CONTENT digest, not
    seeded hash() — two different literals can never collide onto one
    view; (2) engine.sql drops them after execution, so repeated
    time-travel reads leave the session catalog clean (ADVICE r6)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("tt_clean", nat.coalesce(1))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 750 AS n_nationkey", "n_name", "n_regionkey"))
    n0 = nat.count()

    # two DIFFERENT versions in one statement must resolve to two
    # different snapshots (a collision would silently alias them)
    row = eng.sql(
        "SELECT (SELECT count(*) FROM tt_clean VERSION AS OF 1) AS a, "
        "(SELECT count(*) FROM tt_clean VERSION AS OF 2) AS b"
    ).collect()[0]
    assert (row.a, row.b) == (n0, n0 + 2)
    # ...and no __tt_* debris remains in the session
    leftover = [
        v.name for v in spark.catalog.listTables()
        if v.name.startswith("__tt_tt_clean")
    ]
    assert leftover == []
    spark.catalog.dropTempView("tt_clean")


def test_time_travel_keeps_the_table_name_as_qualifier(spark, tmp_path):
    """A VERSION AS OF reference without an alias of its own is still
    named by its table, so columns qualified by that name resolve; an
    alias of its own wins; a self-join of the current table and a
    snapshot reads each side at its own version."""
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = eng.create_table("tq", spark.range(10).selectExpr("id AS k").coalesce(1))
    t.delete_where(F.col("k") > 7)  # v2 holds 0..7

    def rows(sql):
        return sorted(tuple(r) for r in eng.sql(sql).collect())

    try:
        assert rows("SELECT tq.k FROM tq VERSION AS OF 1 WHERE tq.k > 7") == [(8,), (9,)]
        assert rows("SELECT x.k FROM tq VERSION AS OF 1 AS x WHERE x.k > 7") == [
            (8,), (9,),
        ]
        assert rows("SELECT count(*) FROM tq VERSION AS OF 1 JOIN tq ON true") == [(80,)]
        assert rows(
            "SELECT a.k, b.k FROM tq VERSION AS OF 1 a JOIN tq b ON a.k = b.k"
        ) == [(k, k) for k in range(8)]
    finally:
        spark.catalog.dropTempView("tq")


# --- read-time binding: every door read sees main's head ---------------------


def _ten_rows(spark, eng, name, scale=1):
    """A one-file managed table ``name`` (k, v): k = 0..9, v = k * scale."""
    return eng.create_table(
        name, spark.range(10).selectExpr("id AS k", f"id * {scale} AS v").coalesce(1)
    )


def test_door_select_sees_a_dataframe_door_delete(spark, tmp_path):
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = _ten_rows(spark, eng, "bind_df")
    assert eng.sql("SELECT count(*) AS n FROM bind_df").collect()[0].n == 10
    t.delete_where(F.col("k") < 5)
    try:
        assert eng.sql("SELECT count(*) AS n FROM bind_df").collect()[0].n == 5
        # a view name matches in any case, so this name binds too
        t.delete_where(F.col("k") < 6)
        assert eng.sql("SELECT count(*) AS n FROM BIND_DF").collect()[0].n == 4
    finally:
        spark.catalog.dropTempView("bind_df")


def test_door_select_after_rollback_and_cleanup(spark, tmp_path):
    """A door SELECT after a rollback whose expiry and orphan sweep
    deleted the files of the snapshot it last read."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = _ten_rows(spark, eng, "bind_rb")
    eng.sql("DELETE FROM bind_rb WHERE k < 5").collect()
    assert eng.sql("SELECT count(*) AS n FROM bind_rb").collect()[0].n == 5
    t.rollback_to(1)
    t.expire_snapshots(keep_last=1)
    t.remove_orphan_files()
    try:
        assert eng.sql("SELECT count(*) AS n FROM bind_rb").collect()[0].n == 10
    finally:
        spark.catalog.dropTempView("bind_rb")


def test_merge_reads_a_managed_source_at_its_head(spark, tmp_path):
    """A MERGE whose source is a managed table changed through the
    DataFrame door reads the source's current snapshot."""
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    s = _ten_rows(spark, eng, "bind_src", scale=100)
    _ten_rows(spark, eng, "bind_tgt")
    s.delete_where(F.col("k") == 7)
    try:
        eng.sql(
            "MERGE INTO bind_tgt t USING bind_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v"
        ).collect()
        got = dict(eng.managed("bind_tgt").read().collect())
        assert got == {k: (k if k == 7 else k * 100) for k in range(10)}
    finally:
        spark.catalog.dropTempView("bind_src")


def test_dml_subquery_reads_a_managed_table_at_its_head(spark, tmp_path):
    """A DELETE whose condition reads another managed table reads that
    table's current snapshot, with no view of it in the session."""
    from pyspark.sql import functions as F

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    s = _ten_rows(spark, eng, "bind_keys")
    _ten_rows(spark, eng, "bind_del")
    s.delete_where(F.col("k") == 7)
    spark.catalog.dropTempView("bind_keys")
    try:
        eng.sql("DELETE FROM bind_del WHERE k IN (SELECT k FROM bind_keys)").collect()
        assert eng.managed("bind_del").read().collect() == [(7, 7)]
    finally:
        spark.catalog.dropTempView("bind_keys")


def test_sql_temp_view_reads_a_managed_table_at_its_head(spark, tmp_path):
    """A temp view created by SQL is resolved from its text each time it
    is read, so a door read through it sees the managed table's head."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    _ten_rows(spark, eng, "bind_base")
    eng.sql("CREATE TEMP VIEW bind_v AS SELECT * FROM bind_base WHERE k < 8").collect()
    eng.sql("DELETE FROM bind_base WHERE k < 3").collect()
    try:
        assert eng.sql("SELECT count(*) AS n FROM bind_v").collect()[0].n == 5
    finally:
        spark.catalog.dropTempView("bind_v")
        spark.catalog.dropTempView("bind_base")


def test_reads_run_no_listing_job(spark, tmp_path):
    """A read of a 64-file table lists its files on the driver: its
    build, a door SELECT and a door DELETE each run no job with a task
    per file."""
    import uuid

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = eng.create_table(
        "bind_64", spark.range(0, 256, 1, 64).selectExpr("id AS k", "id AS v")
    )
    assert len(t._files()) == 64
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def most_tasks(run):
        """The most tasks any stage of a job ``run`` starts holds."""
        group = f"listing-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "listing")
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        stages = [tracker.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        return max((s.numTasks for s in stages if s), default=0)

    try:
        assert most_tasks(t.read) < 64
        assert most_tasks(
            lambda: eng.sql("SELECT count(*) FROM bind_64 WHERE k < 8").collect()
        ) < 64
        assert most_tasks(lambda: eng.sql("DELETE FROM bind_64 WHERE k = 5").collect()) < 64
        assert t.record_count() == 255
    finally:
        spark.catalog.dropTempView("bind_64")


# --- CALL system.* procedures ----------------------------------------------


def test_call_procedures_dispatch(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_t", nat.coalesce(1))
    t.append(nat.limit(3).selectExpr("n_nationkey + 600 AS n_nationkey", "n_name", "n_regionkey"))
    n0 = nat.count()

    # rollback via CALL — positional arg
    out = eng.sql("CALL system.rollback_to_snapshot('proc_t', 1)").collect()
    assert out[0].procedure == "rollback_to_snapshot"
    assert eng.sql("SELECT count(*) AS n FROM proc_t").collect()[0].n == n0

    # compaction via the Iceberg-named procedure, named arg
    eng.sql("CALL system.rewrite_data_files('proc_t', target_partitions => 1)")
    assert eng.managed("proc_t").read().count() == n0

    # expire — Iceberg's argument NAME (retain_last aliases keep_last)
    eng.sql("CALL system.expire_snapshots('proc_t', retain_last => 2)")
    assert eng.managed("proc_t").read().count() == n0

    # unknown procedure / bad arg fail loudly
    with _pytest.raises(ValueError, match="unknown procedure"):
        eng.sql("CALL system.vacuum('proc_t')")
    with _pytest.raises(ValueError, match="unknown argument"):
        eng.sql("CALL system.expire_snapshots('proc_t', bogus => 1)")
    spark.catalog.dropTempView("proc_t")


def test_call_expire_iceberg_positional_order(spark, tmp_path):
    """Iceberg's signature is expire_snapshots(table, older_than,
    retain_last). The old binding put keep_last FIRST, so an
    Iceberg-style CALL with a timestamp second argument silently
    expired nothing (ADVICE r6). Positional order now matches."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    # pure-parse check of the binding
    _proc, _table, kwargs = sql_dml.parse_call(
        "CALL system.expire_snapshots('t', 1700000000000, 3)"
    )
    assert kwargs == {"older_than_ms": 1700000000000, "keep_last": 3}

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_pos", nat.coalesce(1))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 700 AS n_nationkey", "n_name", "n_regionkey"))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 800 AS n_nationkey", "n_name", "n_regionkey"))
    far_future_ms = (t.snapshots().collect()[-1].ts_ms) + 10**9
    before = t.snapshots().count()
    # Iceberg-style: timestamp first, retain_last second — must expire
    eng.sql(f"CALL system.expire_snapshots('proc_pos', {far_future_ms}, 1)")
    assert t.snapshots().count() < before
    assert eng.managed("proc_pos").read().count() == nat.count() + 4
    spark.catalog.dropTempView("proc_pos")


def test_parse_call_grammar_pure(spark):
    """Grammar-only checks for the procedure surface."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    # zero-arg procedure besides the table
    assert sql_dml.parse_call("CALL system.rewrite_manifests('t')") == (
        "rewrite_manifests", "t", {},
    )
    # Iceberg snapshot_id alias binds to the engine's version kwarg
    assert sql_dml.parse_call(
        "CALL cat.system.cherrypick_snapshot(table => 't', snapshot_id => 3)"
    ) == ("cherrypick_snapshot", "t", {"version": 3})
    # nested parens in a quoted arg survive the statement regex
    proc, table, kw = sql_dml.parse_call(
        "CALL system.rewrite_data_files('t', strategy => 'sort', "
        "sort_order => 'zorder(a, b)')"
    )
    assert kw["sort_order"] == "zorder(a, b)"
    # duplicate via alias+name is still a duplicate
    with _pytest.raises(ValueError, match="duplicate"):
        sql_dml.parse_call(
            "CALL system.expire_snapshots('t', retain_last => 1, "
            "keep_last => 2)"
        )


def test_call_cherrypick_and_remove_orphans(spark, tmp_path):
    import os

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_cp", nat.coalesce(1))
    n0 = nat.count()
    t.append(nat.limit(4).selectExpr(
        "n_nationkey + 900 AS n_nationkey", "n_name", "n_regionkey"))
    eng.sql("CALL system.rollback_to_snapshot('proc_cp', 1)")
    # re-apply v2's append delta on top of the rollback, via the door
    out = eng.sql(
        "CALL system.cherrypick_snapshot('proc_cp', snapshot_id => 2)"
    ).collect()
    assert out[0].procedure == "cherrypick_snapshot"
    assert eng.managed("proc_cp").read().count() == n0 + 4

    # orphan sweep: an unreferenced parquet goes, live files stay
    orphan_dir = os.path.join(str(tmp_path), "proc_cp", "data", "junkbatch")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-junk.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1xPAR1")
    res = eng.sql("CALL system.remove_orphan_files('proc_cp')").collect()
    assert "part-junk.parquet" in res[0].result
    assert not os.path.exists(orphan)
    assert eng.managed("proc_cp").read().count() == n0 + 4

    # older_than guard: a FRESH orphan survives an aged sweep
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1xPAR1")
    eng.sql("CALL system.remove_orphan_files('proc_cp', older_than => 1000)")
    assert os.path.exists(orphan)
    spark.catalog.dropTempView("proc_cp")


def test_call_rewrite_manifests_metadata_only(spark, tmp_path):
    """rewrite_manifests: metadata-only commit — file list deduped and
    canonically sorted, DATA FILES untouched (same inode set), table
    content identical; op recorded in the snapshot lineage."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("proc_mf", nat.repartition(3))
    t.append(nat.limit(2).selectExpr(
        "n_nationkey + 550 AS n_nationkey", "n_name", "n_regionkey"))
    files_before = set(t._files())
    v0 = t.current_version()
    eng.sql("CALL system.rewrite_manifests('proc_mf')")
    assert t.current_version() == v0 + 1
    assert set(t._files()) == files_before          # no data rewrite
    assert t._files() == sorted(set(t._files()))    # canonical order
    assert t.read().count() == nat.count() + 2
    snaps = {r.version: r.operation for r in t.snapshots().collect()}
    assert snaps[v0 + 1] == "rewrite_manifests"
    spark.catalog.dropTempView("proc_mf")


def test_sql_door_dml_retries_on_conflict(spark, tmp_path):
    """engine.sql('UPDATE …') under a racing writer: the first commit
    hits ConflictError (version moved underneath), commit_with_retries
    re-runs the restartable statement against the NEW state, and the
    final table reflects BOTH writers — Iceberg's commit.retry default,
    now wired into the SQL door (r6 verdict item #4)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("race_t", nat.coalesce(1))
    n0 = nat.count()

    rival = LakehouseTable(spark, str(tmp_path), "race_t")
    orig_commit = t._commit
    raced = {"done": False}

    def racing_commit(manifest, expected_parent):
        if not raced["done"]:
            raced["done"] = True
            # a second writer lands BETWEEN this statement's read and
            # its commit — the classic optimistic-concurrency race
            rival.append(nat.limit(2).selectExpr(
                "n_nationkey + 950 AS n_nationkey", "n_name", "n_regionkey"))
        return orig_commit(manifest, expected_parent)

    t._commit = racing_commit
    try:
        eng.sql("UPDATE race_t SET n_name = lower(n_name) WHERE n_regionkey = 0")
    finally:
        t._commit = orig_commit
    assert raced["done"]
    rows = eng.managed("race_t").read().collect()
    # both writers' effects present: rival's 2 appended rows survived…
    assert len(rows) == n0 + 2
    # …and the UPDATE hit every region-0 row, including any appended
    # by the rival (the retry re-read the rival's state first)
    for r in rows:
        if r.n_regionkey == 0:
            assert r.n_name == r.n_name.lower()
    spark.catalog.dropTempView("race_t")


def test_call_rewrite_data_files_strategies(spark, tmp_path):
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    eng.create_table("proc_rw", nat.repartition(4))
    n0 = nat.count()

    # sort strategy → rewrite_sorted
    eng.sql(
        "CALL system.rewrite_data_files('proc_rw', strategy => 'sort', "
        "sort_order => 'n_nationkey', target_partitions => 2)"
    )
    t = eng.managed("proc_rw")
    assert t.read().count() == n0
    assert len(t._files()) == 2

    # zorder sort_order (nested parens must survive the CALL regex)
    eng.sql(
        "CALL system.rewrite_data_files('proc_rw', strategy => 'sort', "
        "sort_order => 'zorder(n_nationkey, n_regionkey)', "
        "target_partitions => 2)"
    )
    assert t.read().count() == n0

    # binpack + sort_order is contradictory → loud
    with _pytest.raises(ValueError, match="sort_order requires"):
        eng.sql(
            "CALL system.rewrite_data_files('proc_rw', "
            "strategy => 'binpack', sort_order => 'n_name')"
        )
    spark.catalog.dropTempView("proc_rw")


def test_alter_table_door_evolution(spark, tmp_path):
    """ALTER TABLE ADD/DROP/RENAME COLUMN through the SQL door (M6 via
    DDL — Iceberg's manifest-only evolution): values survive renames,
    drop touches no data files, DEFAULT literals bind, and non-managed
    ALTER statements fall through to Spark SQL untouched."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    eng = Engine(spark, warehouse=str(tmp_path))
    nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    t = eng.create_table("alt_t", nat.coalesce(1))
    n0 = nat.count()

    out = eng.sql(
        "ALTER TABLE alt_t ADD COLUMN grade STRING DEFAULT 'unrated'"
    ).collect()
    assert out[0].operation == "alter"
    got = eng.sql("SELECT count(*) AS n FROM alt_t WHERE grade = 'unrated'")
    assert got.collect()[0].n == n0  # v3 initial default on old files

    eng.sql("ALTER TABLE alt_t RENAME COLUMN n_name TO nation_name")
    row = eng.sql(
        "SELECT count(*) AS n FROM alt_t WHERE nation_name IS NOT NULL"
    ).collect()[0]
    assert row.n == n0  # pre-rename files keep their values

    files_before = set(t._files())
    eng.sql("ALTER TABLE alt_t DROP COLUMN n_regionkey")
    assert set(t._files()) == files_before  # manifest-only
    assert "n_regionkey" not in eng.managed("alt_t").read().columns

    # grammar-level parse checks
    assert sql_dml.parse_alter(
        "ALTER TABLE t ADD COLUMN x BIGINT DEFAULT 7"
    ) == ("add", "t", ("x", "bigint", 7))
    with _pytest.raises(ValueError, match="unsupported ALTER"):
        sql_dml.parse_alter("ALTER TABLE t CHANGE COLUMN x TYPE DOUBLE")

    # non-managed ALTER falls through to Spark SQL (its own error,
    # not this parser's)
    with _pytest.raises(Exception) as ei:
        eng.sql("ALTER TABLE no_such_tbl DROP COLUMN x")
    assert "unsupported ALTER" not in str(ei.value)
    spark.catalog.dropTempView("alt_t")


def test_alter_add_column_ddl_type_reads_back(spark, tmp_path):
    """`ADD COLUMN c INT DEFAULT 5` stores a type the next read parses:
    old rows read the default, the column is an integer column."""
    from pyspark.sql.types import IntegerType

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.create_table("ai_t", spark.createDataFrame([(1,), (2,)], "k long"))
    eng.sql("ALTER TABLE ai_t ADD COLUMN c INT DEFAULT 5")
    df = eng.managed("ai_t").read()
    assert isinstance(df.schema["c"].dataType, IntegerType)
    assert sorted((r.k, r.c) for r in df.collect()) == [(1, 5), (2, 5)]
    spark.catalog.dropTempView("ai_t")


def test_ctas_and_insert_door(spark, tmp_path):
    """CREATE TABLE AS / INSERT INTO / INSERT OVERWRITE through the
    SQL door — the reference's spark-sql write flow (README.md:35-45)
    against the managed snapshot layer; VALUES lists, retries wiring,
    and fall-through for non-managed targets."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.read.parquet("/root/testdata/sf0.001/nation.parquet") \
        .createOrReplaceTempView("nation_src")

    out = eng.sql(
        "CREATE TABLE ctas_t AS SELECT n_nationkey, n_name FROM nation_src"
    ).collect()[0]
    assert (out.operation, out.version) == ("ctas", 1)
    n0 = out.n_rows
    assert eng.sql("SELECT count(*) AS n FROM ctas_t").collect()[0].n == n0

    out = eng.sql(
        "INSERT INTO ctas_t VALUES (900, 'ATLANTIS'), (901, 'ELDORADO')"
    ).collect()[0]
    assert (out.operation, out.version, out.n_rows) == ("insert", 2, n0 + 2)

    out = eng.sql(
        "INSERT OVERWRITE ctas_t SELECT n_nationkey, n_name "
        "FROM nation_src WHERE n_regionkey = 0"
    ).collect()[0]
    assert out.operation == "insert_overwrite"
    assert out.n_rows < n0
    # history intact: pre-overwrite snapshot still readable
    assert eng.sql(
        "SELECT count(*) AS n FROM ctas_t VERSION AS OF 2"
    ).collect()[0].n == n0 + 2

    # CTAS onto an existing managed table fails loudly
    with _pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE ctas_t AS SELECT 1 AS x")

    # non-managed INSERT falls through to Spark (its own error for a
    # temp view target, not this parser's)
    with _pytest.raises(Exception) as ei:
        eng.sql("INSERT INTO nation_src VALUES (1, 'x', 2)")
    assert "unsupported INSERT" not in str(ei.value)

    # pure parse checks
    assert sql_dml.parse_insert(
        "INSERT OVERWRITE TABLE t SELECT * FROM s"
    ) == ("OVERWRITE", "t", "SELECT * FROM s")
    mode, tbl, body = sql_dml.parse_insert("INSERT INTO t VALUES (1, 'a')")
    assert body.startswith("SELECT * FROM VALUES")
    spark.catalog.dropTempView("ctas_t")
    spark.catalog.dropTempView("nation_src")


def test_insert_column_list_falls_through(spark, tmp_path):
    """A column-list INSERT (`INSERT INTO t (a, b) VALUES …`) is not in
    this subset's grammar — it must reach Spark SQL (whose own error
    mentions the target, not 'unsupported INSERT')."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    with _pytest.raises(Exception) as ei:
        eng.sql("INSERT INTO nowhere_t (a, b) VALUES (1, 2)")
    assert "unsupported INSERT" not in str(ei.value)


def test_create_branch_rejects_existing_if_not_exists_noop(spark, tmp_path):
    """CREATE BRANCH on an existing ref must raise (Iceberg's
    CREATE-vs-REPLACE distinction — silently re-pointing an audited
    branch is the WAP footgun); IF NOT EXISTS is a no-op keeping the
    OLD pointer; REPLACE BRANCH re-points."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "br_src"
    )
    try:
        eng.sql("CREATE TABLE br_t AS SELECT * FROM br_src")
        eng.sql("ALTER TABLE br_t CREATE BRANCH audit")
        eng.sql("INSERT INTO br_t VALUES (2, 'b')")  # main moves to v2
        with _pytest.raises(ValueError, match="exists"):
            eng.sql("ALTER TABLE br_t CREATE BRANCH audit AS OF VERSION 2")
        # IF NOT EXISTS: no-op, pointer unchanged (still reads 1 row)
        eng.sql("ALTER TABLE br_t CREATE BRANCH IF NOT EXISTS audit")
        n = eng.sql(
            "SELECT count(*) AS n FROM br_t VERSION AS OF 'audit'"
        ).collect()[0][0]
        assert n == 1
        # REPLACE is the sanctioned re-point
        eng.sql("ALTER TABLE br_t REPLACE BRANCH audit AS OF VERSION 2")
        n2 = eng.sql(
            "SELECT count(*) AS n FROM br_t VERSION AS OF 'audit'"
        ).collect()[0][0]
        assert n2 == 2
        # tags: IF NOT EXISTS no-ops instead of the immutability error
        eng.sql("ALTER TABLE br_t CREATE TAG gold")
        eng.sql("ALTER TABLE br_t CREATE TAG IF NOT EXISTS gold")
        with _pytest.raises(ValueError, match="immutable"):
            eng.sql("ALTER TABLE br_t CREATE TAG gold")
    finally:
        spark.catalog.dropTempView("br_src")


def test_branch_write_accepts_dash_and_dot_names(spark, tmp_path):
    """Any branch the ALTER grammar can CREATE must be writable via
    INSERT INTO t.branch_<name> — the two regexes share one ref
    charset (review-pass finding: dash-named branches used to parse in
    DDL but fall through to an opaque Spark error on write)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "brd_src"
    )
    try:
        eng.sql("CREATE TABLE brd_t AS SELECT * FROM brd_src")
        for name in ("rel-1", "v1.2"):
            eng.sql(f"ALTER TABLE brd_t CREATE BRANCH {name}")
            eng.sql(f"INSERT INTO brd_t.branch_{name} VALUES (9, 'z')")
            n = eng.sql(
                f"SELECT count(*) AS n FROM brd_t VERSION AS OF '{name}'"
            ).collect()[0][0]
            assert n == 2, name
        # main untouched by branch writes
        assert eng.sql("SELECT count(*) FROM brd_t").collect()[0][0] == 1
    finally:
        spark.catalog.dropTempView("brd_src")


def test_main_dml_after_branch_write_excludes_staged_files(spark, tmp_path):
    """Main-side DML must base on main_head(), not the shared log head:
    after a branch write, INSERT into MAIN must not fold the branch's
    staged files in (review-pass finding, was reproduced live)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "mh_src"
    )
    try:
        eng.sql("CREATE TABLE mh_t AS SELECT * FROM mh_src")
        eng.sql("ALTER TABLE mh_t CREATE BRANCH b")
        eng.sql("INSERT INTO mh_t.branch_b VALUES (9, 'z')")
        eng.sql("INSERT INTO mh_t VALUES (2, 'b')")
        ids = sorted(
            r.id for r in eng.sql("SELECT id FROM mh_t").collect()
        )
        assert ids == [1, 2], ids  # staged row 9 must NOT appear
        # the branch still sees exactly its own lineage
        bids = sorted(
            r.id
            for r in eng.sql(
                "SELECT id FROM mh_t VERSION AS OF 'b'"
            ).collect()
        )
        assert bids == [1, 9], bids
        # and a tag created now pins main's head, not the staged write
        eng.sql("ALTER TABLE mh_t CREATE TAG after")
        tids = sorted(
            r.id
            for r in eng.sql(
                "SELECT id FROM mh_t VERSION AS OF 'after'"
            ).collect()
        )
        assert tids == [1, 2], tids
    finally:
        spark.catalog.dropTempView("mh_src")


def test_replace_branch_default_is_main_head(spark, tmp_path):
    """REPLACE BRANCH without AS OF VERSION re-points to main_head(),
    never to another branch's staged snapshot (review-pass finding,
    was reproduced live)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.createDataFrame([(1, "a")], "id long, v string").createOrReplaceTempView(
        "rb_src"
    )
    try:
        eng.sql("CREATE TABLE rb_t AS SELECT * FROM rb_src")
        eng.sql("ALTER TABLE rb_t CREATE BRANCH b1")
        eng.sql("ALTER TABLE rb_t CREATE BRANCH b2")
        eng.sql("INSERT INTO rb_t.branch_b1 VALUES (9, 'z')")
        eng.sql("ALTER TABLE rb_t REPLACE BRANCH b2")
        ids = sorted(
            r.id
            for r in eng.sql(
                "SELECT id FROM rb_t VERSION AS OF 'b2'"
            ).collect()
        )
        assert ids == [1], ids  # b1's staged row must not leak into b2
    finally:
        spark.catalog.dropTempView("rb_src")


def test_main_head_raises_past_expired_history(spark, tmp_path):
    """main_head() walking staged snapshots down into expired history
    must raise the contracted error, not FileNotFoundError."""
    import pytest as _pytest

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        LakehouseTable,
    )

    t = LakehouseTable(spark, str(tmp_path), "exp_t")
    t.create(spark.createDataFrame([(1,)], "id long"))
    t.append(spark.createDataFrame([(2,)], "id long"))  # v2
    t.create_branch("s")
    t.write_to_branch("s", spark.createDataFrame([(9,)], "id long"))  # v3 staged
    t.write_to_branch("s", spark.createDataFrame([(10,)], "id long"))  # v4 staged
    # r18: expire_snapshots now PROTECTS the main_head() walk path
    # [mh..cur], so this maintenance call can no longer wedge the
    # table — v2 (main head) survives even though keep_last=2 only
    # nominally retains the staged pair
    t.expire_snapshots(keep_last=2)
    assert t.main_head() == 2
    assert t.read().count() == 2
    # the contracted error itself still guards the walk when history
    # is holed by forces OUTSIDE expire_snapshots (manual cleanup,
    # torn storage) — simulate by removing the head manifest directly
    import os as _os

    _os.remove(t._manifest_path(2))
    with _pytest.raises(ValueError, match="expired below staged"):
        t.main_head()


def test_empty_set_clause_raises(spark):
    """An UPDATE SET clause with zero assignments is malformed SQL and
    must raise — a falsy {} would silently no-op the UPDATE."""
    for set_clause in ("", " , "):
        with pytest.raises(ValueError, match="unsupported UPDATE"):
            sql_dml.parse_update(f"UPDATE t SET {set_clause}")


# --- SQL-door silent-failure classes -----------------------------------------


def test_strip_is_quote_aware(spark):
    """'--' inside a string literal is data, not a comment: the
    condition keeps it, and a comment outside quotes is no part of it."""
    assert sql_dml.parse_delete("DELETE FROM t WHERE a = '--' OR b = '--'") == (
        "t", "a = '--' OR b = '--'",
    )
    tbl, cond = sql_dml.parse_delete("DELETE FROM t WHERE a = '--x'")
    assert (tbl, cond) == ("t", "a = '--x'")
    assert sql_dml.parse_delete("DELETE FROM t -- drop all\n WHERE x = 1") == (
        "t", "x = 1",
    )


def test_parse_merge_rejects_unsupported_or_unreachable_clauses(spark):
    """Silently mis-executing is the failure mode: a conditional NOT
    MATCHED insert must not drop its condition and insert everything;
    an UPDATE textually before a conditional DELETE must not delete
    rows SQL would update; a duplicate clause must not replace the
    first."""
    head = "MERGE INTO t USING s ON t.id = s.id "
    with pytest.raises(ValueError, match="NOT MATCHED AND"):
        sql_dml.parse_merge(head + "WHEN NOT MATCHED AND s.f = 1 THEN INSERT *")
    with pytest.raises(ValueError, match="unreachable"):
        sql_dml.parse_merge(
            head
            + "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            + "WHEN MATCHED AND s.d = 1 THEN DELETE"
        )
    with pytest.raises(ValueError, match="duplicate"):
        sql_dml.parse_merge(
            head
            + "WHEN MATCHED AND s.a = 1 THEN DELETE "
            + "WHEN MATCHED AND s.b = 1 THEN DELETE"
        )
    with pytest.raises(ValueError, match="unreachable"):
        sql_dml.parse_merge(
            head + "WHEN MATCHED THEN DELETE WHEN MATCHED THEN UPDATE SET v = 1"
        )
    with pytest.raises(ValueError, match="duplicate WHEN NOT MATCHED"):
        sql_dml.parse_merge(
            head + "WHEN NOT MATCHED THEN INSERT * WHEN NOT MATCHED THEN INSERT *"
        )
    # the supported order still parses
    spec = sql_dml.parse_merge(
        head
        + "WHEN MATCHED AND s.d = 1 THEN DELETE "
        + "WHEN MATCHED THEN UPDATE SET t.v = s.v "
        + "WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["delete_cond"] == "s.d = 1" and spec["insert"] is True


def test_rewrite_aliases_case_insensitive(spark, tmp_path):
    """SQL identifiers are case-insensitive: 'S.v + T.w' with aliases
    declared s/t is legal spark-sql and reads the source and target."""
    assert _merge_rows(
        spark, tmp_path,
        ([(1, 10, 3)], "k int, v int, w int"),
        ([(1, 100, 30)], "k int, v int, w int"),
        "WHEN MATCHED THEN UPDATE SET v = S.v + T.w",
    ) == [(1, 103, 3)]


def test_insert_overwrite_binds_positionally(spark, tmp_path):
    """INSERT OVERWRITE ... VALUES used to commit the VALUES frame's
    schema, silently renaming the table's columns to col1/col2
    (review-pass r15); SQL binds positionally into the EXISTING
    schema."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.sql("CREATE TABLE ow_t AS SELECT 1 AS id, 'a' AS name")
    eng.sql("INSERT OVERWRITE ow_t VALUES (2, 'b')")
    df = eng.table("ow_t")
    assert df.columns == ["id", "name"]
    assert [(r.id, r.name) for r in df.collect()] == [(2, "b")]


def test_call_rejects_duplicate_table_argument(spark, tmp_path):
    """A positional table plus 'table =>' silently overwrote the
    binding and ran the procedure against the WRONG table (review-pass
    r15); Iceberg rejects the duplicate."""
    with pytest.raises(ValueError, match="duplicate table"):
        sql_dml.parse_call(
            "CALL system.expire_snapshots('t1', table => 't2')"
        )


def test_time_travel_inside_insert_and_ctas(spark, tmp_path):
    """Snapshotting into a new table — the canonical time-travel use —
    must work through the SQL door: the DML dispatch used to run the
    body before the VERSION AS OF rewrite (review-pass r15)."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.sql("CREATE TABLE tt_src AS SELECT 1 AS id")
    eng.sql("INSERT INTO tt_src VALUES (2)")  # v2
    eng.sql("CREATE TABLE tt_snap AS SELECT * FROM tt_src VERSION AS OF 1")
    assert [r.id for r in eng.table("tt_snap").collect()] == [1]
    eng.sql("INSERT INTO tt_snap SELECT * FROM tt_src VERSION AS OF 1")
    assert sorted(r.id for r in eng.table("tt_snap").collect()) == [1, 1]


# --- escape handling inside string literals ----------------------------------


def test_strip_handles_backslash_escaped_quote(spark):
    r"""A literal like 'it\'s -- x' holds its '--': the quote it escapes
    does not close it; and two literals that each escape a quote do not
    merge into one that swallows the predicate between them."""
    assert sql_dml.parse_delete("DELETE FROM t WHERE a = 'it\\'s -- x'") == (
        "t", "a = 'it\\'s -- x'",
    )
    # doubled-quote escape form too
    assert sql_dml.parse_delete("DELETE FROM t WHERE a = 'it''s -- x'") == (
        "t", "a = 'it''s -- x'",
    )
    s3 = "UPDATE t SET a = 'x\\'' WHERE b = '\\'y' AND c = 1 -- tail"
    assert sql_dml.parse_update(s3) == (
        "t", {"a": "'x\\''"}, "b = '\\'y' AND c = 1",
    )


def test_split_top_level_handles_escaped_quotes(spark):
    """A SET list does not break inside a literal holding an escaped
    quote followed by a comma."""
    assert sql_dml.parse_update("UPDATE t SET a = 'x\\', y', b = 2")[1] == {
        "a": "'x\\', y'", "b": "2",
    }
    assert sql_dml.parse_update("UPDATE t SET a = 'x'', y', b = 2")[1] == {
        "a": "'x'', y'", "b": "2",
    }


# --- clause coverage, literal-safe rewrite, CASE WHEN ------------------------


def test_parse_merge_rejects_unparseable_clause_instead_of_dropping(spark):
    """WHEN NOT MATCHED BY SOURCE raises instead of vanishing while the
    rest of the MERGE runs. BY TARGET is the default reading of WHEN
    NOT MATCHED: both spellings give the same spec."""
    with pytest.raises(ValueError, match="BY SOURCE"):
        sql_dml.parse_merge(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET t.v = s.v "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )
    assert sql_dml.parse_merge(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED BY TARGET THEN INSERT *"
    ) == sql_dml.parse_merge(
        "MERGE INTO t USING s ON t.k = s.k WHEN NOT MATCHED THEN INSERT *"
    )


def test_parse_merge_case_when_in_update_set(spark):
    """A CASE WHEN inside UPDATE SET is part of the assignment, not the
    start of another WHEN clause."""
    spec = sql_dml.parse_merge(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET t.v = "
        "CASE WHEN s.x > 0 THEN 1 ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert spec["update_set"] == {"v": "CASE WHEN s.x > 0 THEN 1 ELSE 0 END"}
    assert spec["insert"] is True


def test_rewrite_leaves_string_literals_alone(spark, tmp_path):
    """The alias rewrite touches column references only: with source
    alias s, the 'S.' inside 'U.S.' stays, so each condition compares
    against the value written. Rows 1-4 each match one condition and
    are deleted; row 5 matches none."""
    conds = [
        "s.n_name = 's.fake'",
        "s.country = 'U.S.'",
        # doubled-quote escapes stay inside one literal
        "t.a = 's.''s.'",
        # double-quoted literals too
        's.a = "s.b"',
    ]
    hit = " OR ".join(f"(s.k = {i} AND {c})" for i, c in enumerate(conds, 1))
    assert _merge_rows(
        spark, tmp_path,
        ([(1, "x"), (2, "x"), (3, "s.'s."), (4, "x"), (5, "x")], "k int, a string"),
        (
            [
                (1, "s.fake", "-", "-"), (2, "-", "U.S.", "-"), (3, "-", "-", "-"),
                (4, "-", "-", "s.b"), (5, "s.fake", "U.S.", "s.b"),
            ],
            "k int, n_name string, country string, a string",
        ),
        f"WHEN MATCHED AND ({hit}) THEN DELETE",
    ) == [(5, "x")]


def test_rewrite_leaves_backslash_escaped_literals_alone(spark, tmp_path):
    """A backslash-escaped quote does not close a literal, so the alias
    rewrite leaves its interior alone, and a literal ending in an
    escaped backslash still ends at its quote. Rows 1 and 2 each match
    one condition and are deleted; row 3 matches none."""
    conds = [r"s.flag = 'it\'s s.x'", r"s.flag = 'a\\' AND s.y = 1"]
    hit = " OR ".join(f"(s.k = {i} AND {c})" for i, c in enumerate(conds, 1))
    assert _merge_rows(
        spark, tmp_path,
        ([(1, 0), (2, 0), (3, 0)], "k int, v int"),
        (
            [(1, "it's s.x", 0, 0), (2, "a\\", 1, 0), (3, "a\\", 0, 0)],
            "k int, flag string, y int, v int",
        ),
        f"WHEN MATCHED AND ({hit}) THEN DELETE",
    ) == [(3, 0)]
    # a VERSION AS OF inside a backslash-escaped literal is not a
    # time-travel reference
    sql = r"SELECT 'x\' VERSION AS OF 3 ' AS lit FROM t"
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    assert sql_dml.rewrite_time_travel(Engine(spark), sql) == sql


def test_n_rows_matches_table_count_after_every_statement(spark, tmp_path):
    """n_rows comes from the manifests' per-file record counts, not a
    scan: after CTAS, INSERT, UPDATE, DELETE and MERGE it equals the
    table's scanned count, including on a table whose manifest predates
    the counts (the scan fallback), and a branch INSERT reports its
    batch."""
    import json

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    spark.range(40).selectExpr("id", "CAST(id % 3 AS STRING) AS v").repartition(
        4
    ).createOrReplaceTempView("nr_src")
    spark.createDataFrame(
        [(2, "m"), (3, "m"), (100, "new")], "id long, v string"
    ).createOrReplaceTempView("nr_upd")

    def n_rows(sql):
        n = eng.sql(sql).collect()[0].n_rows
        assert n == eng.managed("nr_t").read().count(), sql
        return n

    try:
        assert n_rows("CREATE TABLE nr_t AS SELECT * FROM nr_src") == 40
        assert n_rows("INSERT INTO nr_t VALUES (50, 'a'), (51, 'b')") == 42
        assert n_rows("INSERT INTO nr_t SELECT * FROM nr_src WHERE id < 5") == 47
        assert n_rows("UPDATE nr_t SET v = 'u' WHERE id < 10") == 47
        assert n_rows("DELETE FROM nr_t WHERE id BETWEEN 20 AND 29") == 37
        assert n_rows(
            "MERGE INTO nr_t t USING nr_upd s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *"
        ) == 38
        # strip the counts from the head manifest: the next statements
        # carry the legacy entries forward and fall back to a scan
        t = eng.managed("nr_t")
        path = t._manifest_path(t.main_head())
        m = t._read_manifest(t.main_head())
        del m["manifests"]  # the legacy form: stats inline
        for s in m["stats"].values():
            del s["record_count"]
        with open(path, "w") as fh:
            json.dump(m, fh)
        assert n_rows("INSERT INTO nr_t VALUES (60, 'c')") == 39
        assert n_rows("DELETE FROM nr_t WHERE id = 60") == 38
        assert n_rows("INSERT OVERWRITE nr_t SELECT * FROM nr_src") == 40
        eng.sql("ALTER TABLE nr_t CREATE BRANCH b")
        out = eng.sql("INSERT INTO nr_t.branch_b VALUES (70, 'x'), (71, 'y')")
        assert out.collect()[0].n_rows == 2
    finally:
        spark.catalog.dropTempView("nr_src")
        spark.catalog.dropTempView("nr_upd")


# --- SQL-door write costs ----------------------------------------------------


def _clustered_table(spark, eng, name):
    """64 rows in 16 files, file i holding k in [4i, 4i + 3]."""
    t = eng.create_table(
        name, spark.range(0, 64, 1, 16).selectExpr("id AS k", "id * 10 AS v")
    )
    assert len(t._files()) == 16
    return t


def test_sql_door_results_run_no_job_and_discovery_scans_planned_files(
    spark, tmp_path, monkeypatch
):
    """collect() of every one-row SQL-door result (DML, INSERT, CTAS,
    ALTER, CALL) runs no Spark job and keeps its column names and
    types; DML discovery scans only the files the planner keeps."""
    import uuid

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = _clustered_table(spark, eng, "jobs_t")
    scanned = []
    real = t._affected_files
    monkeypatch.setattr(
        t,
        "_affected_files",
        lambda m, files, rows: scanned.append(list(files)) or real(m, files, rows),
    )
    spark.createDataFrame([(62, 1), (100, 2)], "k long, v long").createOrReplaceTempView(
        "jobs_one"
    )
    spark.createDataFrame([(5, 1), (30, 2)], "k long, v long").createOrReplaceTempView(
        "jobs_many"
    )
    commit = [
        ("table", "string"), ("operation", "string"), ("version", "int"),
        ("n_rows", "bigint"),
    ]
    alter = commit[:3] + [("detail", "string")]
    call = [("table", "string"), ("procedure", "string"), ("result", "string")]
    merge = (
        "MERGE INTO jobs_t t USING {} s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    )
    # (statement, result columns, n_rows, the files its discovery scans
    # — computed before it runs — or None where it runs none)
    stmts = [
        (
            "DELETE FROM jobs_t WHERE k BETWEEN 10 AND 21", commit, 52,
            lambda: t.pruned_files("k", 10, 21),  # files 2..5
        ),
        (
            "UPDATE jobs_t SET v = 0 WHERE k = 40", commit, 52,
            lambda: t.pruned_files("k", 40, 40),  # file 10
        ),
        # keys 62..100 plan to file 15 alone: its discovery is a probe
        (merge.format("jobs_one"), commit, 53, lambda: t.pruned_files("k", 62, 100)),
        (merge.format("jobs_many"), commit, 53, lambda: t.pruned_files("k", 5, 30)),
        ("INSERT INTO jobs_t VALUES (200, 2)", commit, 54, lambda: None),
        ("CREATE TABLE jobs_c AS SELECT * FROM jobs_t", commit, 54, lambda: None),
        ("ALTER TABLE jobs_t ADD COLUMN w string", alter, None, lambda: None),
        ("CALL system.rewrite_manifests('jobs_t')", call, None, lambda: None),
    ]
    assert len(t.pruned_files("k", 10, 21)) == 4
    tracker = spark.sparkContext.statusTracker()
    sc = spark.sparkContext
    try:
        for sql, shape, n_rows, planned in stmts:
            planned = planned()
            scanned.clear()
            out = eng.sql(sql)
            group = f"sql-door-{uuid.uuid4().hex}"
            sc.setJobGroup(group, sql)
            rows = out.collect()
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert list(tracker.getJobIdsForGroup(group)) == [], sql
            assert [
                (f.name, f.dataType.simpleString()) for f in out.schema
            ] == shape, sql
            assert len(rows) == 1
            if n_rows is not None:
                assert rows[0].n_rows == n_rows, sql
            if planned is None:
                assert scanned == [], sql
            else:
                assert 1 <= len(planned) < len(t._files()), sql
                assert scanned == [planned], sql
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.catalog.dropTempView("jobs_one")
        spark.catalog.dropTempView("jobs_many")
    got = {r.k: r.v for r in eng.managed("jobs_t").read().collect()}
    assert got[62] == 1 and got[100] == 2 and got[5] == 1 and got[30] == 2
    assert got[40] == 0 and 10 not in got and got[9] == 90


def test_sql_door_writes_open_the_parent_manifest_at_most_twice(
    spark, tmp_path, monkeypatch
):
    """A SQL-door DELETE, UPDATE, MERGE or INSERT reads the manifest it
    builds on once for its base and once in the commit: the write path
    passes that base along instead of re-resolving main's head."""
    import builtins
    import collections

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    t = _clustered_table(spark, eng, "opens_t")
    spark.createDataFrame([(1, 5), (99, 6)], "k long, v long").createOrReplaceTempView(
        "opens_src"
    )
    real_open = builtins.open
    opens: collections.Counter = collections.Counter()

    def counting_open(file, *args, **kwargs):
        if isinstance(file, str):
            opens[file] += 1
        return real_open(file, *args, **kwargs)

    try:
        for sql in (
            "DELETE FROM opens_t WHERE k BETWEEN 10 AND 21",
            "UPDATE opens_t SET v = 0 WHERE k = 40",
            "MERGE INTO opens_t t USING opens_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *",
            "INSERT INTO opens_t VALUES (200, 2)",
        ):
            parent = t._manifest_path(t.current_version())
            opens.clear()
            monkeypatch.setattr(builtins, "open", counting_open)
            eng.sql(sql)
            monkeypatch.setattr(builtins, "open", real_open)
            assert t._manifest_path(t.current_version()) != parent, sql
            assert 1 <= opens[parent] <= 2, (sql, opens[parent])
    finally:
        monkeypatch.setattr(builtins, "open", real_open)
        spark.catalog.dropTempView("opens_src")


def test_table_operations_open_their_base_manifest_at_most_twice(
    spark, tmp_path, monkeypatch
):
    """Every table operation that commits reads the manifest it commits
    against once for its base and once in the commit; the metadata
    readers ``files()`` and ``record_count()`` read main's head once. A
    metadata-only commit opens no stats manifest."""
    import builtins
    import collections

    from dbx_workspace_and_emr_iceberg_spark.engine import Engine
    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        STATS_DIR,
        cherrypick_snapshot,
    )

    eng = Engine(spark, warehouse=str(tmp_path))
    t = _clustered_table(spark, eng, "base_t")
    frame = spark.range(0, 8, 1, 2).selectExpr("id AS k", "id * 10 AS v")
    values = spark.createDataFrame([(1, 2)], "a long, b long")
    real_open = builtins.open
    opens: collections.Counter = collections.Counter()

    def counting_open(file, *args, **kwargs):
        if isinstance(file, str):
            opens[file] += 1
        return real_open(file, *args, **kwargs)

    def counted(op):
        opens.clear()
        monkeypatch.setattr(builtins, "open", counting_open)
        try:
            return op()
        finally:
            monkeypatch.setattr(builtins, "open", real_open)

    stats_dir = os.path.join(t.root, STATS_DIR)
    metadata_only = {"add_column", "rename_column", "drop_column",
                     "evolve_partitioning"}
    ops = [
        ("add_column", lambda: t.add_column("c", "string")),
        ("rename_column", lambda: t.rename_column("c", "d")),
        ("drop_column", lambda: t.drop_column("d")),
        ("evolve_partitioning", lambda: t.evolve_partitioning(["bucket(2, k)"])),
        ("overwrite_partitions", lambda: t.overwrite_partitions(frame)),
        ("compact", lambda: t.compact(2)),
        ("rewrite_sorted", lambda: t.rewrite_sorted("k", target_files=2)),
        ("rewrite_zorder", lambda: t.rewrite_zorder("k", "v", target_files=2)),
        ("rewrite_manifests", t.rewrite_manifests),
        ("overwrite", lambda: t.overwrite(frame)),
        ("overwrite_positional", lambda: t.overwrite_positional(values)),
        ("rollback_to", lambda: t.rollback_to(1)),
        ("write_to_branch", lambda: t.write_to_branch("b", frame)),
        # the branch's head is now the staged log head
        ("write_to_branch", lambda: t.write_to_branch("b", frame)),
        ("cherrypick_snapshot",
         lambda: cherrypick_snapshot(t, t.current_version())),
    ]
    for name, op in ops:
        if name == "write_to_branch" and "b" not in t._refs()["branches"]:
            t.create_branch("b")
        parent = t._manifest_path(t.current_version())
        counted(op)
        assert t._manifest_path(t.current_version()) != parent, name
        assert 1 <= opens[parent] <= 2, (name, opens[parent])
        if name in metadata_only:
            stats_opens = sum(
                n for f, n in opens.items() if f.startswith(stats_dir)
            )
            assert stats_opens == 0, (name, stats_opens)
    # publishing a staged branch head: the ancestry proof and the
    # rollforward commit share one read of it
    t.replace_branch("b", t.main_head())
    t.write_to_branch("b", frame)
    staged = t._manifest_path(t.current_version())
    counted(lambda: t.fast_forward("main", "b"))
    assert t.main_head() == t.current_version() > t._refs()["branches"]["b"]
    assert 1 <= opens[staged] <= 2, ("fast_forward", opens[staged])
    head = t._manifest_path(t.main_head())
    for name, op in (("files", lambda: t.files().collect()),
                     ("record_count", t.record_count)):
        counted(op)
        assert opens[head] == 1, (name, opens[head])


# --- statements read by Spark's parser ---------------------------------------


def _kv_table(spark, tmp_path, name):
    """A managed table ``name`` (k, v) holding k = 1..4, v = 10 * k."""
    from dbx_workspace_and_emr_iceberg_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    eng.create_table(
        name,
        spark.createDataFrame([(k, 10 * k) for k in range(1, 5)], "k int, v int"),
    )
    return eng


def test_delete_condition_runs_past_a_block_comment(spark, tmp_path):
    """A '--' inside a block comment starts no line comment: the
    condition is both disjuncts."""
    eng = _kv_table(spark, tmp_path, "bc_t")
    eng.sql("DELETE FROM bc_t WHERE k = 1 /* -- */ OR k = 2")
    assert sorted(r.k for r in eng.table("bc_t").collect()) == [3, 4]
    spark.catalog.dropTempView("bc_t")


def test_update_where_inside_a_comment_is_no_where(spark, tmp_path):
    """A WHERE inside a block comment is commented out: the UPDATE sets
    every row."""
    eng = _kv_table(spark, tmp_path, "cw_t")
    eng.sql("UPDATE cw_t SET v = 1 /* WHERE k = 2 */")
    assert sorted(r.v for r in eng.table("cw_t").collect()) == [1, 1, 1, 1]
    spark.catalog.dropTempView("cw_t")


def test_update_set_backquoted_column(spark, tmp_path):
    """A quoted column name is a SET target like any other."""
    eng = _kv_table(spark, tmp_path, "bq_t")
    eng.sql("UPDATE bq_t SET `v` = 1 WHERE k > 2")
    assert sorted((r.k, r.v) for r in eng.table("bq_t").collect()) == [
        (1, 10), (2, 20), (3, 1), (4, 1),
    ]
    spark.catalog.dropTempView("bq_t")


def test_merge_target_struct_field_is_not_the_source(spark, tmp_path):
    """t.s.v names field v of the target's struct column s, even with
    the source aliased s: only a reference's first name part is its
    qualifier."""
    assert _merge_rows(
        spark, tmp_path,
        ([(1, 10, (7,))], "k int, v int, s struct<v:int>"),
        ([(1, 100, (555,))], "k int, v int, s struct<v:int>"),
        "WHEN MATCHED THEN UPDATE SET t.v = t.s.v",
    ) == [(1, 7, (7,))]


@pytest.mark.parametrize(
    "cond",
    [
        "(a + b) BETWEEN 1 AND 2",
        "(a) IN (1, 2)",
        "((a)) IS NULL",
        "a NOT IN (1)",
        "a IS NOT NULL",
        "a NOT ILIKE 'x%'",
        "a IS UNKNOWN",
        "a IS NOT DISTINCT FROM b",
        "a LIKE ANY ('x', 'y')",
        "a IN (SELECT b FROM u)",
        "EXISTS (SELECT b FROM u)",
        "EXISTS (SELECT b FROM u) AND a = 1",
        "a = true",
        "false",
    ],
)
def test_parse_delete_keeps_predicate_operands(spark, cond):
    """A predicate's text starts at its operand, parentheses included."""
    assert sql_dml.parse_delete(f"DELETE FROM t WHERE {cond}") == ("t", cond)


@pytest.mark.parametrize(
    "body",
    [
        "SELECT a FROM s ORDER BY a LIMIT 3",
        "(SELECT a FROM s) ORDER BY a",
        "SELECT a FROM s UNION ALL SELECT b FROM u",
        "WITH x AS (SELECT 1) SELECT * FROM x",
    ],
)
def test_parse_insert_and_ctas_keep_the_whole_query(spark, body):
    assert sql_dml.parse_insert(f"INSERT INTO t {body}") == ("INTO", "t", body)
    assert sql_dml.parse_ctas(f"CREATE TABLE t AS {body}") == ("t", body)


def test_delete_parenthesized_operand_runs(spark, tmp_path):
    eng = _kv_table(spark, tmp_path, "po_t")
    eng.sql("DELETE FROM po_t WHERE (k + 1) BETWEEN 2 AND 3")
    assert sorted(r.k for r in eng.table("po_t").collect()) == [3, 4]
    spark.catalog.dropTempView("po_t")


def test_merge_not_matched_first_reads_in_grammar_order(spark, tmp_path):
    """WHEN NOT MATCHED may come before or between the MATCHED clauses:
    the groups act on disjoint rows, so the statement means what its
    grammar-ordered form means."""
    head = "MERGE INTO t USING s ON t.k = s.k "
    delete = "WHEN MATCHED AND s.v > 150 THEN DELETE "
    update = "WHEN MATCHED THEN UPDATE SET v = s.v -- set\n"
    insert = "WHEN NOT MATCHED THEN INSERT * "
    want = sql_dml.parse_merge(head + delete + update + insert)
    for whens in (insert + delete + update, delete + insert + update + ";"):
        assert sql_dml.parse_merge(head + whens) == want
    assert _merge_rows(
        spark, tmp_path,
        ([(1, 10), (2, 20)], "k int, v int"),
        ([(1, 100), (2, 200), (3, 300)], "k int, v int"),
        insert + delete + update,
    ) == [(1, 100), (3, 300)]
    # the clauses within a group keep their order
    with pytest.raises(ValueError, match="unreachable"):
        sql_dml.parse_merge(
            head + "WHEN MATCHED THEN UPDATE SET v = 1 " + insert
            + "WHEN MATCHED AND s.d = 1 THEN DELETE"
        )


def test_merge_with_schema_evolution_raises(spark):
    """The snapshot layer's merge keeps the target's schema, so a MERGE
    asking to evolve it is refused rather than run without evolution."""
    with pytest.raises(ValueError, match="SCHEMA EVOLUTION"):
        sql_dml.parse_merge(
            "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE"
        )


def test_door_runs_the_plan_it_parsed(spark, tmp_path, monkeypatch):
    """A statement Spark runs is parsed once: the door runs the parsed
    plan rather than handing its text back to spark.sql."""
    eng = _kv_table(spark, tmp_path, "once_t")

    def reparse(*args, **kwargs):
        raise AssertionError("statement parsed a second time")

    with monkeypatch.context() as m:
        m.setattr(spark, "sql", reparse)
        rows = eng.sql("SELECT k FROM once_t WHERE k > 2").collect()
        eng.sql("CREATE OR REPLACE TEMPORARY VIEW once_v AS SELECT 7 AS x")
    assert sorted(r.k for r in rows) == [3, 4]
    assert spark.table("once_v").collect()[0].x == 7
    spark.catalog.dropTempView("once_v")
    spark.catalog.dropTempView("once_t")


def test_parse_rejections_leave_the_error_log_on(spark):
    """The log of a parse rejection the door handles is dropped only in
    the thread that parses: after concurrent statements, PySpark's
    query-context log still passes records."""
    import logging
    import sys
    import threading

    from pyspark.logger import PySparkLogger

    stmts = ["ALTER TABLE t CREATE BRANCH b-1", "SELECT 1", "SELEC 1"]
    threads = [
        threading.Thread(target=sql_dml.classify, args=(stmts[i % 3],))
        for i in range((os.cpu_count() or 4) + 1)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    log = PySparkLogger.getLogger("SQLQueryContextLogger")
    record = logging.LogRecord("q", logging.ERROR, __file__, 1, "m", None, None)
    assert not log.disabled and log.filter(record)
