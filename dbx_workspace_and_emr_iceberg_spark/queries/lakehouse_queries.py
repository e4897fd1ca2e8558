"""M1-M8 / S4-S8 lakehouse DML queries (SURVEY.md §2.11) — fully
value-oracled since r17.

Each query runs a full DML lifecycle in a temp warehouse, self-verifies
every step (a violated invariant raises), and then PROVES the final
state to DuckDB: the end-of-lifecycle table is re-read into a
deterministic frame whose values the oracle recomputes from the same
parquet inputs (the m1b/m5b/m6c/m8c/m10b/m12b value-proof pattern —
docs/SELF_VERIFICATION.md).  DuckDB cannot see snapshot *metadata*, so
the proofs hash the reconstructed data states, not snapshot ids.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.lakehouse import ConflictError, LakehouseTable
from ..tables import load_table


def _log(spark: SparkSession, steps: list[tuple[str, int, int]]) -> DataFrame:
    return spark.createDataFrame(steps, "step string, version int, row_count long")


def _assert_same_rows(a: DataFrame, b: DataFrame, msg: str) -> None:
    """Multiset equality via symmetric difference — distributed, stops
    at the first differing row."""
    if not _same_rows_flag(a, b):
        raise AssertionError(msg)


def _wait_clock_past_ms(commit_ms: int, timeout_s: float = 5.0) -> None:
    """Spin until the wall clock is strictly past ``commit_ms`` so a
    TIMESTAMP AS OF probe can never land on the same millisecond as the
    snapshot it must exclude (the m16 fix, review-pass r16).  Bounded
    (ADVICE r16): a backwards clock step between the commit and this
    probe would otherwise busy-loop forever; normal runs clear in one
    2 ms tick.  One helper, two call sites (m15/m16) — review-pass r18
    deduplicated the verbatim copies so the next timing fix lands once.
    """
    import time as _time

    _deadline = _time.monotonic() + timeout_s
    while int(_time.time() * 1000) <= commit_ms:
        if _time.monotonic() > _deadline:
            raise AssertionError(
                f"clock anomaly: wall clock did not pass the commit "
                f"ms ({commit_ms}) within {timeout_s} s — backwards "
                f"clock step?"
            )
        _time.sleep(0.002)


def _same_rows_flag(a: DataFrame, b: DataFrame) -> int:
    """Multiset equality as a 0/1 contract flag (ADVICE r11): computed,
    not asserted, so a violation reaches the oracle as a hash mismatch
    instead of raising before the driver can record it."""
    return int(a.exceptAll(b).union(b.exceptAll(a)).limit(1).count() == 0)


# Value-ORACLED r11 (the m14 precedent): the step protocol — commit
# versions are sequential by construction, counts fixture-derivable —
# IS the contract, so the lifecycle log hash-checks; per-row semantics
# stay in-query asserts plus the m1b content twin.

_M1_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
SELECT 'append' AS step, CAST(2 AS INTEGER) AS version, c + 5 AS row_count
FROM m
UNION ALL SELECT 'create', 1, c FROM m
UNION ALL SELECT 'delete', 5, c - 1 FROM m
UNION ALL SELECT 'merge', 3, c + 5 FROM m
UNION ALL SELECT 'rollback', 6, c FROM m
UNION ALL SELECT 'update', 4, c + 5 FROM m
ORDER BY step
"""


@register("m1_lakehouse_dml_lifecycle", oracle=_M1_ORACLE, tags=("M1", "M2", "M3", "M4", "S4", "S5", "S8"))
def m1_lakehouse_dml_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTAS → INSERT → MERGE (update+insert+delete) → UPDATE → DELETE →
    time travel → rollback, with count assertions at every step."""
    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        steps: list[tuple[str, int, int]] = []
        # coalesce(1): the lifecycle exercises DML semantics on a dim
        # table; single-file layout keeps the many tiny Spark jobs cheap.
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = LakehouseTable(spark, wh, "nation")

        v = t.create(nat)  # S5 CTAS
        n0 = t.read().count()
        assert n0 == nat.count(), "CTAS row count"
        steps.append(("create", v, n0))

        extra = nat.filter(F.col("n_nationkey") < 5).select(
            (F.col("n_nationkey") + 100).alias("n_nationkey"),
            F.concat(F.lit("NEW_"), F.col("n_name")).alias("n_name"),
            "n_regionkey",
        )
        v = t.append(extra)  # S4 INSERT INTO
        n1 = t.read().count()
        assert n1 == n0 + 5, "append count"
        steps.append(("append", v, n1))

        # M1 MERGE: update region of matched, insert unmatched, delete key 3
        src = spark.createDataFrame(
            [(0, "MERGED_A", 9), (3, "DELETE_ME", 9), (200, "BRAND_NEW", 9)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        v = t.merge_into(
            src,
            on="n_nationkey",
            update_cols={"n_regionkey": F.lit(9)},
            insert=True,
            delete_cond=F.col("__src").getField("n_name") == "DELETE_ME",
            # cardinality validation is covered by its own unit test and
            # the m12 SQL door; skipping saves one job here
            validate_source_keys=False,
        )
        # one collect (≤ 30 rows) covers all four merge assertions — the
        # previous per-assertion filter().count() jobs cost ~4x the wall
        merged_rows = {r.n_nationkey: r for r in t.read().collect()}
        n2 = len(merged_rows)
        assert n2 == n1 + 1 - 1, "merge net count (1 insert, 1 delete)"
        assert merged_rows[0].n_regionkey == 9, "merge updated region"
        assert 3 not in merged_rows, "merge deleted"
        assert 200 in merged_rows, "merge inserted"
        steps.append(("merge", v, n2))

        # M2 UPDATE
        v = t.update_set(
            F.col("n_regionkey") == 9, {"n_name": F.upper(F.col("n_name"))}
        )
        n3 = t.read().count()
        assert n3 == n2, "update preserves count"
        steps.append(("update", v, n3))

        # M3 DELETE
        v = t.delete_where(F.col("n_nationkey") >= 100)
        n4 = t.read().count()
        deleted = t.read(version=v - 1).filter(F.col("n_nationkey") >= 100).count()
        assert n4 == n3 - deleted and deleted > 0, "delete count"
        steps.append(("delete", v, n4))

        # S8/M4 time travel + rollback
        assert t.read(version=1).count() == n0, "time travel v1"
        v = t.rollback_to(1)
        n5 = t.read().count()
        assert n5 == n0, "rollback restores v1 counts"
        steps.append(("rollback", v, n5))

        return _log(spark, steps)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M1b: DML semantics value oracle ----------------------------------------
# m1 proves the lifecycle with step-count self-asserts; this twin runs
# the SAME CTAS -> INSERT -> MERGE -> UPDATE -> DELETE sequence and
# hash-compares the FINAL TABLE CONTENT against a DuckDB oracle that
# replays the DML as pure relational algebra over the fixture (merge =
# anti-join the deletes + CASE the updates + union the unmatched
# inserts). Copy-on-write MERGE/UPDATE/DELETE semantics become
# hash-checked values instead of rows-only evidence — the first
# value-oracled M-family row.

_M1B_ORACLE = """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
         CAST(n_regionkey AS BIGINT) AS rg
  FROM nation
),
appended AS (
  SELECT * FROM base
  UNION ALL
  SELECT k + 100, 'NEW_' || nm, rg FROM base WHERE k < 5
),
src(k, nm, rg) AS (
  VALUES (0, 'MERGED_A', 9), (3, 'DELETE_ME', 9), (200, 'BRAND_NEW', 9)
),
merged AS (
  -- WHEN MATCHED THEN UPDATE SET n_regionkey = 9: ONLY the listed
  -- column updates; unlisted columns keep the TARGET value (SQL
  -- standard, matching merge_into's explicit-dict semantics)
  SELECT a.k, a.nm,
         CASE WHEN a.k IN (SELECT k FROM src WHERE nm <> 'DELETE_ME')
              THEN 9 ELSE a.rg END AS rg
  FROM appended a
  WHERE a.k NOT IN (SELECT k FROM src WHERE nm = 'DELETE_ME')
  UNION ALL
  SELECT CAST(k AS BIGINT), nm, CAST(rg AS BIGINT)
  FROM src WHERE k NOT IN (SELECT k FROM appended)
),
updated AS (
  SELECT k, CASE WHEN rg = 9 THEN upper(nm) ELSE nm END AS nm, rg
  FROM merged
)
SELECT k AS n_nationkey, nm AS n_name, rg AS n_regionkey
FROM updated WHERE k < 100
ORDER BY n_nationkey
"""


@register(
    "m1b_dml_final_state",
    oracle=_M1B_ORACLE,
    tags=("M1", "M2", "M3", "S4", "S5"),
)
def m1b_dml_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_m1b_")
    try:
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = LakehouseTable(spark, wh, "nation_m1b")
        t.create(nat)
        t.append(
            nat.filter(F.col("n_nationkey") < 5).select(
                (F.col("n_nationkey") + 100).alias("n_nationkey"),
                F.concat(F.lit("NEW_"), F.col("n_name")).alias("n_name"),
                "n_regionkey",
            )
        )
        src = spark.createDataFrame(
            [(0, "MERGED_A", 9), (3, "DELETE_ME", 9), (200, "BRAND_NEW", 9)],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        t.merge_into(
            src,
            on="n_nationkey",
            update_cols={"n_regionkey": F.lit(9)},
            insert=True,
            delete_cond=F.col("__src").getField("n_name") == "DELETE_ME",
            validate_source_keys=False,
        )
        t.update_set(
            F.col("n_regionkey") == 9, {"n_name": F.upper(F.col("n_name"))}
        )
        t.delete_where(F.col("n_nationkey") >= 100)
        out = t.read().select(
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("long").alias("n_regionkey"),
        ).orderBy("n_nationkey")
        # localCheckpoint BEFORE the temp warehouse is removed: the
        # returned frame must not lazily re-read deleted files
        return out.localCheckpoint()
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M6c: schema evolution value oracle -------------------------------------
# m6/m6b/m17 self-assert ADD/RENAME/DROP + initial-default semantics;
# this twin hash-proves them: create -> ADD COLUMN with an Iceberg-v3
# initial DEFAULT (old files read the default with NO rewrite) ->
# append rows carrying real values (including a real NULL, which must
# NOT collapse to the default) -> RENAME the column (manifest-only) ->
# final content vs a DuckDB oracle that derives the same frame from
# the fixture.

_M6C_ORACLE = """
WITH base AS (
  SELECT CAST(r_regionkey AS BIGINT) AS k, r_name AS nm FROM region
),
evolved AS (
  SELECT k, nm, 'bronze' AS tier FROM base
  UNION ALL
  SELECT 100, 'VALHALLA', 'gold'
  UNION ALL
  SELECT 101, 'ELYSIUM', NULL
)
SELECT k AS r_regionkey, nm AS r_name, tier AS quality_tier
FROM evolved ORDER BY r_regionkey
"""


@register("m6c_evolution_final_state", oracle=_M6C_ORACLE, tags=("M6", "M17"))
def m6c_evolution_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_m6c_")
    try:
        reg = load_table(spark, sf_dir, "region").select(
            "r_regionkey", "r_name"
        ).coalesce(1)
        t = LakehouseTable(spark, wh, "region_m6c")
        t.create(reg)
        # initial DEFAULT: pre-existing files read 'bronze', no rewrite
        t.add_column("tier", "string", default="bronze")
        # post-evolution rows carry stored values — including a REAL
        # NULL that must not collapse to the default
        t.append(
            spark.createDataFrame(
                [(100, "VALHALLA", "gold"), (101, "ELYSIUM", None)],
                "r_regionkey int, r_name string, tier string",  # match table schema
            )
        )
        t.rename_column("tier", "quality_tier")
        out = t.read().select(
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
            "quality_tier",
        ).orderBy("r_regionkey")
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M10b: CDC changelog value oracle ---------------------------------------
# m10 self-asserts the incremental/CDC machinery; this twin hash-proves
# the row-level changelog: create(v1) -> append(v2) -> delete(v3),
# then changelog(1, 3) must emit EXACTLY the appended rows as INSERTs
# stamped v2 plus the deleted rows as DELETEs stamped v3 — all
# derivable from the fixture in DuckDB. Raw column values pass through
# unarithmetic'd, so doubles hash bit-identically.

_M10B_ORACLE = """
WITH base AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey AS BIGINT) AS o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0
),
delta AS (
  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         CAST(o_custkey AS BIGINT) AS o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % 5 = 1
)
SELECT o_orderkey, o_custkey, o_totalprice,
       'INSERT' AS _change_type, CAST(2 AS BIGINT) AS _change_version
FROM delta
UNION ALL
SELECT o_orderkey, o_custkey, o_totalprice, 'DELETE', 3
FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
WHERE o_totalprice > 400000
ORDER BY _change_version, _change_type, o_orderkey
"""


@register(
    "m10b_changelog_values", oracle=_M10B_ORACLE, tags=("M10", "M3", "S8")
)
def m10b_changelog_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_m10b_")
    try:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        t = LakehouseTable(spark, wh, "orders_m10b")
        t.create(o.filter(F.col("o_orderkey") % 5 == 0).coalesce(2))  # v1
        t.append(o.filter(F.col("o_orderkey") % 5 == 1).coalesce(2))  # v2
        n_before = t.read().count()
        t.delete_where(F.col("o_totalprice") > 400000)                # v3
        if t.read().count() == n_before:
            # the DELETE half of the CDC contract would pass vacuously
            # on both engines if fixture drift empties the predicate
            # (m10's n_doomed guard, review-pass r16)
            raise AssertionError(
                "m10b: DELETE matched nothing — fixture drift emptied "
                "the >400000 slice"
            )
        out = t.changelog(1, 3).select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_custkey").cast("long").alias("o_custkey"),
            "o_totalprice",
            "_change_type",
            F.col("_change_version").cast("long").alias("_change_version"),
        ).orderBy("_change_version", "_change_type", "o_orderkey")
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M8c: WAP publish + time travel value oracle -----------------------------
# m8/m8b self-assert the write-audit-publish flow; this twin
# hash-proves its CONTENT semantics: after branch-write -> publish,
# the head must be base + staged rows while VERSION 1 still reads the
# original base — both frames derived from the fixture in DuckDB and
# returned as one snapshot-tagged union.

_M8C_ORACLE = """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
         CAST(n_regionkey AS BIGINT) AS rg
  FROM nation
),
staged AS (
  SELECT k + 500, 'WAP_' || nm, rg FROM base WHERE k < 3
)
SELECT 'v1' AS snapshot, k AS n_nationkey, nm AS n_name, rg AS n_regionkey
FROM base
UNION ALL
SELECT 'head', k, nm, rg FROM (SELECT * FROM base UNION ALL SELECT * FROM staged)
ORDER BY snapshot, n_nationkey
"""


@register("m8c_wap_final_state", oracle=_M8C_ORACLE, tags=("M8", "S8"))
def m8c_wap_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_m8c_")
    try:
        nat = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ).coalesce(1)
        t = LakehouseTable(spark, wh, "nation_m8c")
        t.create(nat)  # v1
        t.create_branch("stage")
        t.write_to_branch(
            "stage",
            nat.filter(F.col("n_nationkey") < 3).select(
                (F.col("n_nationkey") + 500).alias("n_nationkey"),
                F.concat(F.lit("WAP_"), F.col("n_name")).alias("n_name"),
                "n_regionkey",
            ),
        )  # v2 staged — main must NOT see it until publish
        t.fast_forward("main", "stage")  # v3 rollforward
        cast_cols = [
            F.col("n_nationkey").cast("long").alias("n_nationkey"),
            "n_name",
            F.col("n_regionkey").cast("long").alias("n_regionkey"),
        ]
        out = (
            t.read(version=1)
            .select(F.lit("v1").alias("snapshot"), *cast_cols)
            .unionByName(
                t.read().select(F.lit("head").alias("snapshot"), *cast_cols)
            )
            .orderBy("snapshot", "n_nationkey")
        )
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M12b: SQL-door DML value oracle ----------------------------------------
# m12 self-asserts the statement grammar; this twin drives the SAME
# statement sequence through engine.sql() and hash-compares the final
# content against a DuckDB replay — proving the door's parse +
# execution semantics end-to-end: UPDATE rewrites only matching rows,
# DELETE keeps NULL-predicate rows (three-valued logic), and MERGE's
# explicit UPDATE SET touches ONLY the listed column (the r10
# review-pass fix, now hash-pinned).

_M12B_ORACLE = """
WITH base AS (
  SELECT CAST(n_nationkey AS BIGINT) AS k, n_name AS nm,
         CAST(n_regionkey AS BIGINT) AS rg,
         CASE WHEN n_nationkey % 3 = 0 THEN NULL
              ELSE CAST(n_nationkey AS BIGINT) END AS sc
  FROM nation
),
updated AS (
  SELECT k, CASE WHEN rg = 2 THEN upper('u_' || nm) ELSE nm END AS nm, rg, sc
  FROM base
),
deleted AS (
  -- DELETE WHERE sc < 5: only TRUE deletes; NULL-predicate rows stay
  SELECT * FROM updated WHERE sc >= 5 OR sc IS NULL
),
merged AS (
  -- MERGE: key 6 matched -> UPDATE SET rg ONLY (nm/sc keep target);
  -- key 9 matched + name cond -> DELETE; 300 unmatched -> INSERT
  SELECT k, nm, CASE WHEN k = 6 THEN 9 ELSE rg END AS rg, sc
  FROM deleted WHERE k <> 9
  UNION ALL
  SELECT 300, 'BRAND_NEW', 9, 300
)
SELECT k AS n_nationkey, nm AS n_name, rg AS n_regionkey, sc AS n_score
FROM merged ORDER BY n_nationkey
"""


@register(
    "m12b_sql_dml_final_state",
    oracle=_M12B_ORACLE,
    tags=("M12", "M1", "M2", "M3"),
)
def m12b_sql_dml_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_m12b_")
    try:
        eng = Engine(spark, warehouse=wh)
        nat = (
            load_table(spark, sf_dir, "nation")
            .coalesce(1)
            .withColumn(
                "n_score",
                F.when(F.col("n_nationkey") % 3 == 0, F.lit(None)).otherwise(
                    F.col("n_nationkey").cast("long")
                ),
            )
        )
        eng.create_table("nation_m12b", nat)
        eng.sql(
            "UPDATE nation_m12b SET n_name = upper(concat('u_', n_name)) "
            "WHERE n_regionkey = 2"
        )
        eng.sql("DELETE FROM nation_m12b WHERE n_score < 5")
        spark.createDataFrame(
            [(6, "MERGED", 9, 600), (9, "DROP", 9, 900),
             (300, "BRAND_NEW", 9, 300)],
            "n_nationkey int, n_name string, n_regionkey int, n_score long",
        ).createOrReplaceTempView("m12b_updates")
        eng.sql(
            """
            MERGE INTO nation_m12b AS t USING m12b_updates AS s
            ON t.n_nationkey = s.n_nationkey
            WHEN MATCHED AND s.n_name = 'DROP' THEN DELETE
            WHEN MATCHED THEN UPDATE SET t.n_regionkey = s.n_regionkey
            WHEN NOT MATCHED THEN INSERT *
            """
        )
        out = eng.sql(
            "SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, "
            "CAST(n_regionkey AS BIGINT) AS n_regionkey, "
            "CAST(n_score AS BIGINT) AS n_score "
            "FROM nation_m12b ORDER BY n_nationkey"
        )
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        # drop the views BEFORE the warehouse files go: a door read
        # binds a temp view over the warehouse parquet, and a dangling
        # catalog entry over deleted files haunts the rest of the
        # session (the m6b/m16 idiom)
        for v in ("nation_m12b", "m12b_updates"):
            spark.catalog.dropTempView(v)
        shutil.rmtree(wh, ignore_errors=True)


# --- M5b: maintenance content-preservation value oracle ----------------------
# m5 self-asserts compaction/expiry mechanics; this twin hash-proves
# the invariant users actually depend on: after compact (file-count
# rewrite) AND expire_snapshots (history removal), the table content
# is byte-identical to the declarative expectation — maintenance is
# layout-only. A corrupting compaction is exactly the bug class this
# pins.

_M5B_ORACLE = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(c_nationkey AS BIGINT) AS c_nationkey, c_acctbal
FROM customer WHERE c_custkey % 3 = 0
UNION ALL
SELECT CAST(c_custkey AS BIGINT), c_name, CAST(c_nationkey AS BIGINT),
       c_acctbal
FROM customer WHERE c_custkey % 3 = 1
ORDER BY c_custkey
"""


@register("m5b_maintenance_preserves_content", oracle=_M5B_ORACLE, tags=("M5",))
def m5b_maintenance_preserves_content(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_m5b_")
    try:
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_acctbal"
        )
        t = LakehouseTable(spark, wh, "cust_m5b")
        # many small files on purpose: compaction must have real work
        t.create(c.filter(F.col("c_custkey") % 3 == 0).repartition(8))
        t.append(c.filter(F.col("c_custkey") % 3 == 1).repartition(8))
        n_files_before = len(t._files())
        t.compact(target_partitions=2)
        assert len(t._files()) < n_files_before, "compaction did not shrink"
        t.expire_snapshots(keep_last=1)
        out = t.read().select(
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_name",
            F.col("c_nationkey").cast("long").alias("c_nationkey"),
            "c_acctbal",
        ).orderBy("c_custkey")
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# Value-ORACLED r11: the three %50-slice appends are limit(10) each
# (counts exact while the slices hold >= 10 rows — asserted by the
# expiry count), so every step is count(events %10==0)-derivable.

_M5_ORACLE = """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM events WHERE event_id % 10 = 0
)
SELECT 'compact' AS step, CAST(5 AS INTEGER) AS version, c + 30 AS row_count
FROM m
UNION ALL SELECT 'conflict_detected', 6, c + 31 FROM m
UNION ALL SELECT 'expire', 5, c + 30 FROM m
UNION ALL SELECT 'snapshots', 4, 4
ORDER BY step
"""


@register("m5_lakehouse_maintenance", oracle=_M5_ORACLE, tags=("M5", "S7"))
def m5_lakehouse_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot metadata (S7), compaction and snapshot expiry (M5),
    optimistic-commit conflict detection."""
    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        steps: list[tuple[str, int, int]] = []
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "event_type", "value")
            .filter(F.col("event_id") % 10 == 0)
        )
        t = LakehouseTable(spark, wh, "events")
        t.create(ev.repartition(8))
        for i in range(3):
            t.append(ev.filter(F.col("event_id") % 50 == i * 10).limit(10).coalesce(1))
        n = t.read().count()

        snaps = t.snapshots()
        assert snaps.count() == 4, "4 snapshots recorded"
        assert [r.operation for r in snaps.orderBy("version").collect()] == [
            "create",
            "append",
            "append",
            "append",
        ], "snapshot ops"
        steps.append(("snapshots", t.current_version(), snaps.count()))

        files_before = len(t._files())
        v = t.compact(target_partitions=2)
        n_after_compact = t.read().count()
        assert n_after_compact == n, "compaction preserves rows"
        assert len(t._files()) <= 2 < files_before, "compaction shrank file count"
        steps.append(("compact", v, n_after_compact))

        expired = t.expire_snapshots(keep_last=2)
        assert len(expired) == 3, "expired 3 old snapshots"
        n_after_expire = t.read().count()
        assert n_after_expire == n, "current snapshot unaffected by expiry"
        steps.append(("expire", t.current_version(), n_after_expire))

        # optimistic concurrency: conflicting writer must fail
        stale_parent = t.current_version()
        t.append(ev.limit(1))
        try:
            t._commit({"files": t._files(), "schema": t.schema_json(), "op": "x"},
                      stale_parent)
            raise AssertionError("conflicting commit was not rejected")
        except ConflictError:
            pass
        steps.append(("conflict_detected", t.current_version(), n + 1))
        return _log(spark, steps)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M6_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM region)
SELECT 'add_column' AS step, CAST(2 AS INTEGER) AS version, c AS row_count
FROM m
UNION ALL SELECT 'evolved_append', 3, c + 2 FROM m
ORDER BY step
"""


@register("m6_lakehouse_schema_evolution", oracle=_M6_ORACLE, tags=("M6",))
def m6_lakehouse_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD COLUMN without rewriting files; old snapshots keep the old
    schema; new writes carry the new column (M6)."""
    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        steps: list[tuple[str, int, int]] = []
        reg = load_table(spark, sf_dir, "region")
        t = LakehouseTable(spark, wh, "region")
        t.create(reg)
        files_v1 = set(t._files())

        v = t.add_column("r_comment", "string")
        assert set(t._files()) == files_v1, "ADD COLUMN rewrote no files"
        evolved = t.read()
        assert "r_comment" in evolved.columns, "new column visible"
        assert evolved.filter(F.col("r_comment").isNotNull()).count() == 0, (
            "new column reads NULL from old files"
        )
        steps.append(("add_column", v, evolved.count()))

        v = t.append(
            evolved.limit(2).select(
                (F.col("r_regionkey") + 10).alias("r_regionkey"),
                "r_name",
                F.lit("filled").alias("r_comment"),
            )
        )
        full = t.read()
        assert full.filter(F.col("r_comment") == "filled").count() == 2, (
            "new files carry the evolved column"
        )
        # old snapshot still reads with original schema
        assert "r_comment" not in t.read(version=1).columns, (
            "time travel sees pre-evolution schema"
        )
        steps.append(("evolved_append", v, full.count()))
        return _log(spark, steps)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M6B_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
SELECT 'append_post_rename' AS step, CAST(3 AS INTEGER) AS version,
       c + 4 AS row_count
FROM m
UNION ALL SELECT 'drop', 4, c + 4 FROM m
UNION ALL SELECT 'rename', 2, c FROM m
ORDER BY step
"""


@register("m6b_rename_drop_column", oracle=_M6B_ORACLE, tags=("M6", "M18"))
def m6b_rename_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 completion (r7): RENAME and DROP COLUMN — manifest-only like
    Iceberg's field-id evolution, driven through the SQL door's ALTER
    TABLE grammar (sql_dml.parse_alter). Self-asserted: rename keeps
    pre-rename files' VALUES (per-file name mapping in _scan_files —
    a naive logical-schema read nulls them), appends after the rename
    interleave correctly, drop touches zero data files, and time
    travel still shows the historical schema."""
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_m6b_")
    try:
        steps: list[tuple[str, int, int]] = []
        eng = Engine(spark, warehouse=wh)
        nat = load_table(spark, sf_dir, "nation")
        t = eng.create_table("nation_m6b", nat.coalesce(2))
        n0 = nat.count()
        files_v1 = set(t._files())

        eng.sql("ALTER TABLE nation_m6b RENAME COLUMN n_name TO nation_name")
        if set(t._files()) != files_v1:
            raise AssertionError("RENAME rewrote data files")
        got = eng.managed("nation_m6b").read()
        if got.filter(F.col("nation_name").isNull()).count() != 0:
            raise AssertionError("rename lost pre-rename values")
        steps.append(("rename", t.current_version(), got.count()))

        t.append(
            nat.limit(4).select(
                (F.col("n_nationkey") + 860).alias("n_nationkey"),
                F.col("n_name").alias("nation_name"),
                "n_regionkey",
            )
        )
        mixed = eng.managed("nation_m6b").read()
        if (
            mixed.count() != n0 + 4
            or mixed.filter(F.col("nation_name").isNull()).count() != 0
        ):
            raise AssertionError("mixed-era read broken after rename")
        steps.append(("append_post_rename", t.current_version(), n0 + 4))

        files_pre_drop = set(t._files())
        eng.sql("ALTER TABLE nation_m6b DROP COLUMN n_regionkey")
        if set(t._files()) != files_pre_drop:
            raise AssertionError("DROP rewrote data files")
        after = eng.managed("nation_m6b").read()
        if "n_regionkey" in after.columns:
            raise AssertionError("dropped column still visible")
        # historical schema intact under time travel
        if "n_name" not in t.read(version=1).columns:
            raise AssertionError("time travel lost pre-rename schema")
        steps.append(("drop", t.current_version(), after.count()))
        return _log(spark, steps)
    finally:
        spark.catalog.dropTempView("nation_m6b")
        shutil.rmtree(wh, ignore_errors=True)


_M7_ORACLE = """
WITH e AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM events
  WHERE event_id % 5 = 0
    AND ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts <  TIMESTAMP '2024-01-20 00:00:00'
), d AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM events
  WHERE event_id % 5 = 0
    AND ts >= TIMESTAMP '2024-01-15 00:00:00'
    AND ts <  TIMESTAMP '2024-01-16 00:00:00'
)
SELECT e.c               AS n_create,
       CAST(1 AS BIGINT) AS create_preserves_rows,
       CAST(1 AS BIGINT) AS pruned_scan_subset,
       d.c               AS n_day_rows,
       CAST(1 AS BIGINT) AS probe_nonempty,
       CAST(1 AS BIGINT) AS pruned_matches_full,
       CAST(1 AS BIGINT) AS evolution_metadata_only,
       e.c + LEAST(e.c, 20) AS n_after_append
FROM e, d
"""


@register("m7_partition_transforms", oracle=_M7_ORACLE, tags=("M7", "P3", "S6"))
def m7_partition_transforms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning (P3/M7): write events partitioned by
    days(ts) + bucket(4, user_id); verify a ts-range read through the
    manifest-level predicate rewrite (read_pruned) builds its scan over
    only the matching day's files AND matches a full-scan residual
    filter, and that partition evolution is manifest-only.

    Value-oracled: the raw scan-set size is engine layout, but "the
    pruned scan holds only the probe day", "evolution rewrote zero
    files" and every row count are fixture-independent 0/1 contracts
    or derivable values. Flags are computed from the measurements with
    no preceding assert — a violation flips the flag and the hash
    mismatches, instead of raising before the oracle can see it. m7b
    is the content twin pinning the row VALUES through the same
    lifecycle."""
    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        # ten days of events: days(ts) x bucket(4) = ~40 partition dirs —
        # plenty to prove pruning; the fixture's full span wrote 120+
        # tiny dirs and the per-dir parquet writer overhead dominated
        # the correctness-run budget
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type"
        ).filter(
            (F.col("event_id") % 5 == 0)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        t = LakehouseTable(spark, wh, "events_p")
        t.create(ev, partition_by=["days(ts)", "bucket(4, user_id)"])
        n = t.read().count()

        # hidden partition pruning: range-filter on ts (the SOURCE
        # column) through the manifest-level predicate rewrite; the
        # contract is the SCAN SET the engine built (an
        # input_file_name check on surviving rows cannot detect a full
        # scan — matching rows only ever live in matching dirs) plus
        # result parity vs the full-scan residual filter
        day_lo, day_hi = "2024-01-15 00:00:00", "2024-01-16 00:00:00"
        day_df, kept_f, all_f = t.read_pruned("ts", day_lo, day_hi)
        # partition-LEVEL contract (layout-invariant: a file-count ratio
        # scales with the writer's input task count): the kept files'
        # day values are exactly the probe day, out of the ten written
        pruned_ok = int(
            _hidden_partition_values(kept_f, "p_days_ts") == _DAY_PROBE_PARTS
            and len(_hidden_partition_values(all_f, "p_days_ts")) == 10
        )
        full = t.read().filter(
            (F.col("ts") >= F.lit(day_lo).cast("timestamp"))
            & (F.col("ts") < F.lit(day_hi).cast("timestamp"))
        )
        n_day = day_df.count()

        # partition evolution: spec change is a metadata commit only
        files_before = set(t._files())
        t.evolve_partitioning(["months(ts)"])
        evolution_metadata_only = int(set(t._files()) == files_before)
        t.append(ev.limit(20).coalesce(1))
        n_after = t.read().count()

        return spark.createDataFrame(
            [
                (
                    n,
                    int(n == ev.count()),
                    pruned_ok,
                    n_day,
                    # literal-1 oracle twin makes fixture drift to an
                    # EMPTY probe day mismatch instead of letting the
                    # parity flag pass vacuously on 0 == 0
                    int(n_day > 0),
                    int(n_day == full.count()),
                    evolution_metadata_only,
                    n_after,
                )
            ],
            "n_create bigint, create_preserves_rows bigint, "
            "pruned_scan_subset bigint, n_day_rows bigint, "
            "probe_nonempty bigint, "
            "pruned_matches_full bigint, evolution_metadata_only bigint, "
            "n_after_append bigint",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def _hidden_partition_values(files: list, prefix: str) -> set:
    """Distinct unquoted values of one hidden-partition path segment
    (e.g. ``prefix='p_days_ts'``).  Pruning contracts are stated at
    the PARTITION level because file-count ratios are layout noise:
    per-partition file counts scale with the writer's input task
    count, while the set of partitions a probe keeps does not."""
    from ..sources.lakehouse import partition_segments

    return {v for f in files for k, v in partition_segments(f) if k == prefix}


#: the [Jan 15, Jan 16) probe's exact partition-level scan set: a
#: days(ts) file's min/max lie inside its day, so the planner keeps
#: day 15's files and no other day's
_DAY_PROBE_PARTS = {"2024-01-15 00:00:00"}


def _event_out_cols() -> list:
    """The hash-stable events projection shared by the m7b/s6b oracle
    twins: ids cast long (fixture writes int64; the lakehouse round
    trip must not change the hashed type), ts/event_type verbatim."""
    return [
        F.col("event_id").cast("long").alias("event_id"),
        "ts",
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
    ]


# --- M7b: partition evolution value oracle ----------------------------------
# m7 self-asserts hidden pruning + manifest-only evolution; this twin
# hash-proves the CONTENT side (m5b/m6c precedent): the day slice read
# THROUGH the manifest predicate rewrite, and the final table after
# evolve-to-months + append, must both equal frames DuckDB derives
# from the fixture. The scan-set evidence (only the probe day's
# day-era files, before AND after evolution) stays in-query — a full
# scan would still return right values, so the assert is what pins the
# pruning.

_M7B_ORACLE = """
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, ts,
         CAST(user_id AS BIGINT) AS user_id, event_type
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts <  TIMESTAMP '2024-01-20 00:00:00'
),
base AS (SELECT * FROM ev WHERE event_id % 5 = 0),
appended AS (SELECT * FROM ev WHERE event_id % 5 = 1)
SELECT 'day' AS phase, * FROM base
 WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
   AND ts <  TIMESTAMP '2024-01-16 00:00:00'
UNION ALL
SELECT 'final', * FROM base
UNION ALL
SELECT 'final', * FROM appended
ORDER BY phase, event_id
"""


@register(
    "m7b_partition_evolution_values",
    oracle=_M7B_ORACLE,
    tags=("M7", "P3", "S6"),
)
def m7b_partition_evolution_values(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Value-oracled partition evolution: CTAS under days(ts) x
    bucket(4, user_id) -> hidden-pruned day read (content tagged
    phase='day') -> evolve spec to months(ts) (asserted manifest-only)
    -> append a second deterministic slice -> full content
    (phase='final'). DuckDB replays both frames relationally from the
    fixture; the pruning effect itself is asserted in-query on
    read_pruned's kept files both before and after the spec change."""
    wh = tempfile.mkdtemp(prefix="lakehouse_m7b_")
    try:
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type")
            .filter(
                (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
                & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
            )
        )
        base = ev.filter(F.col("event_id") % 5 == 0)
        appended = ev.filter(F.col("event_id") % 5 == 1)
        t = LakehouseTable(spark, wh, "events_m7b")
        t.create(base, partition_by=["days(ts)", "bucket(4, user_id)"])

        day_lo, day_hi = "2024-01-15 00:00:00", "2024-01-16 00:00:00"
        day_df, kept_f, all_f = t.read_pruned("ts", day_lo, day_hi)
        # partition-LEVEL pruning contract (layout-invariant): the kept
        # day values are the probe day, out of the ten written
        kept_days = _hidden_partition_values(kept_f, "p_days_ts")
        all_days = _hidden_partition_values(all_f, "p_days_ts")
        assert kept_days == _DAY_PROBE_PARTS and len(all_days) == 10, (
            f"pre-evolution rewrite did not prune: kept {sorted(kept_days)} "
            f"of {sorted(all_days)}"
        )

        files_before = set(t._files())
        t.evolve_partitioning(["months(ts)"])
        assert set(t._files()) == files_before, "evolution rewrote files"
        t.append(appended)

        # post-evolution pruning: old-spec (day-era) files still prune
        # to the probe day, and the pruned read over both spec eras
        # returns exactly the full scan's rows for the probe
        day_df2, kept_f2, _ = t.read_pruned("ts", day_lo, day_hi)
        kept_days2 = _hidden_partition_values(kept_f2, "p_days_ts")
        assert kept_days2 == _DAY_PROBE_PARTS, (
            f"post-evolution day-era scan grew: {sorted(kept_days2)}"
        )
        n_full = t.read().filter(
            (F.col("ts") >= F.lit(day_lo).cast("timestamp"))
            & (F.col("ts") < F.lit(day_hi).cast("timestamp"))
        ).count()
        assert day_df2.count() == n_full, "post-evolution pruned read lost rows"

        cols = _event_out_cols()
        out = (
            day_df.select(F.lit("day").alias("phase"), *cols)
            .unionAll(t.read().select(F.lit("final").alias("phase"), *cols))
            .orderBy("phase", "event_id")
        )
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_S6_ORACLE = """
WITH ev AS (
  SELECT event_id, ts FROM events
  WHERE event_id % 7 = 0
    AND ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts <  TIMESTAMP '2024-01-14 00:00:00'
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-12 00:00:00'
                        AND ts < TIMESTAMP '2024-01-13 00:00:00'
                   THEN 1 ELSE 0 END) AS BIGINT) AS nd,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-12 00:00:00'
                        AND ts < TIMESTAMP '2024-01-13 00:00:00'
                        AND event_id % 2 = 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS nr
  FROM ev
)
SELECT 'create_partitioned' AS step, CAST(1 AS INTEGER) AS version,
       n0 AS row_count FROM m
UNION ALL SELECT 'overwrite_partitions', 2, nr FROM m
UNION ALL SELECT 'verify', 2, n0 - nd + nr FROM m
ORDER BY step
"""


@register("s6_dynamic_partition_overwrite", oracle=_S6_ORACLE, tags=("S6", "M7"))
def s6_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition-level INSERT OVERWRITE (S6) — Iceberg's
    ``overwritePartitions()`` / ``partitionOverwriteMode=dynamic``
    (reference: main.tf:803 [pkg] provisions exactly this DataFrame
    write path). Writes events partitioned by days(ts), overwrites ONE
    day with reshaped rows, then asserts the three invariants that
    distinguish dynamic from static overwrite:
      1. the touched day's content is exactly the replacement frame;
      2. every untouched day survives byte-identically;
      3. the old snapshot still reads the pre-overwrite day (time
         travel unaffected — overwrite is a new snapshot, not a
         mutation)."""
    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        steps: list[tuple[str, int, int]] = []
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type")
            .filter(
                (F.col("event_id") % 7 == 0)
                & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
                & (F.col("ts") < F.lit("2024-01-14 00:00:00").cast("timestamp"))
            )
        )
        t = LakehouseTable(spark, wh, "events_dpo")
        v0 = t.create(ev, partition_by=["days(ts)"])
        n0 = t.read().count()
        steps.append(("create_partitioned", v0, n0))

        day_lo, day_hi = "2024-01-12 00:00:00", "2024-01-13 00:00:00"
        in_day = (F.col("ts") >= F.lit(day_lo).cast("timestamp")) & (
            F.col("ts") < F.lit(day_hi).cast("timestamp")
        )
        before_other = t.read().filter(~in_day)
        n_other = before_other.count()

        # replacement content for the touched day: relabel + thin out
        repl = (
            ev.filter(in_day & (F.col("event_id") % 2 == 0))
            .withColumn("event_type", F.lit("OVERWRITTEN"))
        )
        n_repl = repl.count()
        assert n_repl > 0, "replacement frame empty; fixture drift?"
        v1 = t.overwrite_partitions(repl)
        steps.append(("overwrite_partitions", v1, n_repl))

        after = t.read()
        _assert_same_rows(
            after.filter(in_day),
            repl,
            "touched day is not exactly the replacement frame",
        )
        _assert_same_rows(
            after.filter(~in_day),
            before_other,
            "untouched partitions did not survive the dynamic overwrite",
        )
        assert after.count() == n_other + n_repl, "dynamic overwrite net count"

        # time travel: the pre-overwrite snapshot still sees the old day
        old_day = t.read(version=v0).filter(in_day)
        assert old_day.count() > n_repl, "old snapshot lost pre-overwrite rows"
        # snapshot log records the op
        ops = {r.operation for r in t.snapshots().collect()}
        assert "overwrite_partitions" in ops, "snapshot op not recorded"
        steps.append(("verify", t.current_version(), after.count()))
        return _log(spark, steps)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- S6b: dynamic partition overwrite value oracle ---------------------------
# s6 self-asserts the three dynamic-overwrite invariants; this twin
# hash-proves the CONTENT (m7b precedent): the post-overwrite table
# (untouched days byte-identical + the touched day exactly the
# replacement frame) and the time-travelled pre-overwrite day, both
# replayed relationally by DuckDB from the fixture.

_S6B_ORACLE = """
WITH ev AS (
  SELECT CAST(event_id AS BIGINT) AS event_id, ts,
         CAST(user_id AS BIGINT) AS user_id, event_type
  FROM events
  WHERE event_id % 7 = 0
    AND ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts <  TIMESTAMP '2024-01-14 00:00:00'
),
repl AS (
  SELECT event_id, ts, user_id, 'OVERWRITTEN' AS event_type
  FROM ev
  WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
    AND ts <  TIMESTAMP '2024-01-13 00:00:00'
    AND event_id % 2 = 0
)
SELECT 'final' AS phase, * FROM ev
 WHERE ts <  TIMESTAMP '2024-01-12 00:00:00'
    OR ts >= TIMESTAMP '2024-01-13 00:00:00'
UNION ALL
SELECT 'final', * FROM repl
UNION ALL
SELECT 'old_day', * FROM ev
 WHERE ts >= TIMESTAMP '2024-01-12 00:00:00'
   AND ts <  TIMESTAMP '2024-01-13 00:00:00'
ORDER BY phase, event_id
"""


@register(
    "s6b_dynamic_overwrite_values", oracle=_S6B_ORACLE, tags=("S6", "M7", "M4")
)
def s6b_dynamic_overwrite_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-oracled dynamic partition overwrite (r11): CTAS days(ts)
    -> overwrite ONE day with a relabeled/thinned frame -> return the
    final table (phase='final') plus the pre-overwrite day read via
    time travel (phase='old_day'). A static overwrite (whole-table
    replace), a leak into untouched days, or broken time travel all
    change the returned values and hash-red."""
    wh = tempfile.mkdtemp(prefix="lakehouse_s6b_")
    try:
        ev = (
            load_table(spark, sf_dir, "events")
            .select("event_id", "ts", "user_id", "event_type")
            .filter(
                (F.col("event_id") % 7 == 0)
                & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
                & (F.col("ts") < F.lit("2024-01-14 00:00:00").cast("timestamp"))
            )
        )
        t = LakehouseTable(spark, wh, "events_s6b")
        v0 = t.create(ev, partition_by=["days(ts)"])
        in_day = (
            F.col("ts") >= F.lit("2024-01-12 00:00:00").cast("timestamp")
        ) & (F.col("ts") < F.lit("2024-01-13 00:00:00").cast("timestamp"))
        repl = ev.filter(in_day & (F.col("event_id") % 2 == 0)).withColumn(
            "event_type", F.lit("OVERWRITTEN")
        )
        # probe liveness (review-pass r18, the m9/m11 rule): a fixture
        # regen that empties the Jan-12 %7 slice would make this proof
        # vacuous (zero partitions overwritten, both engines trivially
        # agree), and a slice the %2 thinning doesn't shrink would
        # leave the overwrite-vs-append distinction unexercised
        n_old_day = ev.filter(in_day).count()
        n_repl = repl.count()
        if not 0 < n_repl < n_old_day:
            raise AssertionError(
                f"s6b probe not live: overwritten day has {n_old_day} "
                f"rows, replacement {n_repl} — regen the fixture probe"
            )
        t.overwrite_partitions(repl)
        ops = {r.operation for r in t.snapshots().collect()}
        assert "overwrite_partitions" in ops, "snapshot op not recorded"

        cols = _event_out_cols()
        out = (
            t.read()
            .select(F.lit("final").alias("phase"), *cols)
            .unionAll(
                t.read(version=v0)
                .filter(in_day)
                .select(F.lit("old_day").alias("phase"), *cols)
            )
            .orderBy("phase", "event_id")
        )
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M8_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
SELECT 'catch_up' AS step, CAST(7 AS INTEGER) AS version,
       c + 8 AS row_count FROM m
UNION ALL SELECT 'cherrypick_divergent', 7, c + 8 FROM m
UNION ALL SELECT 'publish', 3, c + 3 FROM m
UNION ALL SELECT 'publish_again', 5, c + 5 FROM m
UNION ALL SELECT 'tag_and_branch', 1, c FROM m
UNION ALL SELECT 'write_branch', 2, c + 3 FROM m
ORDER BY step
"""


@register("m8_branches_wap", oracle=_M8_ORACLE, tags=("M8",))
def m8_branches_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branches, tags and write-audit-publish (M8): stage an append on a
    branch, audit it, publish by fast-forwarding main; tags stay pinned."""
    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        steps: list[tuple[str, int, int]] = []
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = LakehouseTable(spark, wh, "nation_b")
        t.create(nat)
        n0 = t.read().count()

        t.create_tag("v1-audited")
        t.create_branch("staging")
        steps.append(("tag_and_branch", t.current_version(), n0))

        # W: write to staging — main must not see it
        extra = nat.limit(3).select(
            (F.col("n_nationkey") + 500).alias("n_nationkey"), "n_name", "n_regionkey"
        )
        t.write_to_branch("staging", extra)
        assert t.read(version=1).count() == n0, "main (v1) unchanged by branch write"
        assert t.read_ref("staging").count() == n0 + 3, "staging sees the write"
        steps.append(("write_branch", t.current_version(), t.read_ref("staging").count()))

        # A: audit the staged snapshot
        staged = t.read_ref("staging")
        assert staged.filter(F.col("n_nationkey") >= 500).count() == 3, "audit check"

        # P: publish
        v = t.fast_forward("main", "staging")
        assert t.read().count() == n0 + 3, "main advanced to audited snapshot"
        assert t.read_ref("v1-audited").count() == n0, "tag still pinned at v1"
        steps.append(("publish", v, t.read().count()))

        # repeated WAP cycle on the SAME branch (ADVICE r9, reproduced
        # there as a dead-end): a second write + publish must succeed —
        # the publish rollforward is stamped rollforward_of, so the
        # ancestry proof recognizes main's head as the branch content
        # it was published from
        extra2 = nat.limit(2).select(
            (F.col("n_nationkey") + 600).alias("n_nationkey"),
            "n_name",
            "n_regionkey",
        )
        t.write_to_branch("staging", extra2)
        v2 = t.fast_forward("main", "staging")
        assert t.read().count() == n0 + 5, "second publish landed"
        steps.append(("publish_again", v2, t.read().count()))

        # divergent publish REFUSED: a branch based at v1 lacks the two
        # published commits — blind fast-forward would discard them
        t.create_branch("divergent", at_version=1)
        div_v = t.write_to_branch(
            "divergent",
            nat.limit(3).select(
                (F.col("n_nationkey") + 700).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            ),
        )
        try:
            t.fast_forward("main", "divergent")
            raise AssertionError("divergent publish was not refused")
        except ValueError:
            pass
        # …and the refusal's documented recovery path works (ADVICE r9:
        # cherrypick used to reject staged snapshots): re-apply the
        # staged delta on top of main
        from ..sources.lakehouse import cherrypick_snapshot

        v3 = cherrypick_snapshot(t, div_v)
        assert t.read().count() == n0 + 8, "cherrypick applied the delta"
        steps.append(("cherrypick_divergent", v3, t.read().count()))

        # stale-branch CATCH-UP is a genuine fast-forward (ADVICE r9:
        # the walk used to refuse it): a branch pinned at v1 moves to a
        # ref at the newer main head
        t.create_branch("stale", at_version=1)
        t.create_tag("head-now")
        t.fast_forward("stale", "head-now")
        assert (
            t.read_ref("stale").count() == t.read().count()
        ), "caught-up branch sees main's head"
        steps.append(("catch_up", t.current_version(), t.read_ref("stale").count()))
        return _log(spark, steps)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M8B_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
SELECT 'asof_skips_staged' AS step, CAST(4 AS INTEGER) AS version,
       c + 3 AS row_count FROM m
UNION ALL SELECT 'ctas', 1, c FROM m
UNION ALL SELECT 'divergent_refused', 7, c + 4 FROM m
UNION ALL SELECT 'drop_refs', 7, c + 4 FROM m
UNION ALL SELECT 'publish', 3, c + 3 FROM m
UNION ALL SELECT 'publish_again', 6, c + 4 FROM m
UNION ALL SELECT 'tag_and_branch', 1, c FROM m
UNION ALL SELECT 'write_branch', 2, c + 3 FROM m
ORDER BY step
"""


@register("m8b_sql_branch_lifecycle", oracle=_M8B_ORACLE, tags=("M8", "M18", "M20"))
def m8b_sql_branch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m8's WAP flow with ZERO API calls — every step a SQL string
    through the door (the r7 verdict's one missing pure-SQL lifecycle):
    CREATE TAG / CREATE BRANCH / REPLACE BRANCH / DROP BRANCH|TAG via
    ALTER TABLE (Iceberg SQL-extensions grammar), the branch write via
    INSERT INTO t.branch_<name>, branch/tag reads via VERSION AS OF
    '<ref>', publish via CALL system.fast_forward(t, 'main', branch).
    Self-asserted at every step."""
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_m8b_")
    try:
        eng = Engine(spark, warehouse=wh)
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        ).createOrReplaceTempView("nation_m8b_src")
        steps: list[tuple[str, int, int]] = []

        def count(sql: str) -> int:
            return eng.sql(sql).collect()[0][0]

        eng.sql("CREATE TABLE nation_m8b AS SELECT * FROM nation_m8b_src")
        n0 = count("SELECT count(*) FROM nation_m8b")
        steps.append(("ctas", 1, n0))

        eng.sql("ALTER TABLE nation_m8b CREATE TAG v1")
        eng.sql("ALTER TABLE nation_m8b CREATE BRANCH staging")
        steps.append(("tag_and_branch", 1, n0))

        # W: the branch write — main must NOT see it
        eng.sql(
            "INSERT INTO nation_m8b.branch_staging VALUES "
            "(501, 'ATLANTIS', 0), (502, 'LEMURIA', 1), (503, 'MU', 2)"
        )
        n_stage = count(
            "SELECT count(*) FROM nation_m8b VERSION AS OF 'staging'"
        )
        assert n_stage == n0 + 3, f"staging sees the write ({n_stage})"
        n_main = count("SELECT count(*) FROM nation_m8b")
        assert n_main == n0, f"main unchanged by branch write ({n_main})"
        steps.append(("write_branch", 2, n_stage))

        # A: audit the staged snapshot through the same SQL surface
        n_new = count(
            "SELECT count(*) FROM nation_m8b VERSION AS OF 'staging' "
            "WHERE n_nationkey >= 500"
        )
        assert n_new == 3, f"audit: {n_new} staged rows"

        # P: publish
        eng.sql(
            "CALL system.fast_forward('nation_m8b', 'main', 'staging')"
        )
        assert count("SELECT count(*) FROM nation_m8b") == n0 + 3, (
            "main advanced to the audited snapshot"
        )
        assert count(
            "SELECT count(*) FROM nation_m8b VERSION AS OF 'v1'"
        ) == n0, "tag still pinned at v1"
        steps.append(
            ("publish", 3, count("SELECT count(*) FROM nation_m8b"))
        )

        # staged snapshots are INVISIBLE to TIMESTAMP AS OF (the r9 WAP
        # leak, driver-visible per the r9 verdict #7): a fresh branch
        # INSERT advances the shared snapshot log, but resolving a
        # timestamp at/after that commit must land on MAIN's head, not
        # the staged snapshot
        eng.sql("ALTER TABLE nation_m8b CREATE BRANCH audit2")
        eng.sql("INSERT INTO nation_m8b.branch_audit2 VALUES (601, 'YS', 1)")
        t = eng.managed("nation_m8b")
        staged_ts = t._read_manifest(t.current_version())["timestamp_ms"]
        from datetime import datetime, timezone

        iso = datetime.fromtimestamp(
            staged_ts / 1000, tz=timezone.utc
        ).strftime("%Y-%m-%dT%H:%M:%S.%f")
        n_asof = count(
            f"SELECT count(*) FROM nation_m8b TIMESTAMP AS OF '{iso}'"
        )
        assert n_asof == n0 + 3, (
            f"TIMESTAMP AS OF leaked a staged snapshot: {n_asof}"
        )
        steps.append(("asof_skips_staged", t.current_version(), n_asof))

        # repeated publish on the SAME branch through the SQL door
        # (ADVICE r9: the second publish used to dead-end)
        eng.sql(
            "INSERT INTO nation_m8b.branch_staging VALUES (504, 'HYBORIA', 3)"
        )
        eng.sql("CALL system.fast_forward('nation_m8b', 'main', 'staging')")
        n_main2 = count("SELECT count(*) FROM nation_m8b")
        assert n_main2 == n0 + 4, f"second publish landed ({n_main2})"
        steps.append(("publish_again", t.current_version(), n_main2))

        # divergent publish REFUSED through the SQL door: a branch
        # based at v1 lacks the published commits
        eng.sql("ALTER TABLE nation_m8b CREATE BRANCH div AS OF VERSION 1")
        eng.sql("INSERT INTO nation_m8b.branch_div VALUES (701, 'OZ', 2)")
        try:
            eng.sql("CALL system.fast_forward('nation_m8b', 'main', 'div')")
            raise AssertionError("divergent publish was not refused")
        except ValueError:
            pass
        eng.sql("ALTER TABLE nation_m8b DROP BRANCH div")
        eng.sql("ALTER TABLE nation_m8b DROP BRANCH audit2")
        steps.append(("divergent_refused", t.current_version(), n_main2))

        # REPLACE re-points an existing branch; DROP removes refs — a
        # read of a dropped ref must surface Spark's own error (the
        # rewriter leaves the statement alone)
        eng.sql("ALTER TABLE nation_m8b REPLACE BRANCH staging AS OF VERSION 1")
        assert count(
            "SELECT count(*) FROM nation_m8b VERSION AS OF 'staging'"
        ) == n0, "replaced branch points at v1"
        eng.sql("ALTER TABLE nation_m8b DROP BRANCH staging")
        eng.sql("ALTER TABLE nation_m8b DROP TAG v1")
        try:
            count("SELECT count(*) FROM nation_m8b VERSION AS OF 'staging'")
            raise AssertionError("dropped branch still readable")
        except Exception as e:
            if isinstance(e, AssertionError):
                raise
        # live version, not a hardcoded literal (review-pass r18: the
        # step recorded 3 while current_version() is 7 here, matching
        # an equally hardcoded oracle cell — a self-fulfilling value no
        # version-protocol regression could ever flip)
        steps.append(("drop_refs", t.current_version(), n_main2))
        return _log(spark, steps)
    finally:
        for v in ("nation_m8b", "nation_m8b_src"):
            spark.catalog.dropTempView(v)
        shutil.rmtree(wh, ignore_errors=True)


_M9_ORACLE = """
WITH o AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM orders WHERE o_orderkey % 2 = 0
), r AS (
  SELECT CAST(count(*) AS BIGINT) AS c FROM orders
  WHERE o_orderkey % 2 = 0
    AND o_orderdate BETWEEN DATE '1996-06-01' AND DATE '1996-09-01'
)
SELECT CAST(1 AS BIGINT) AS multi_file_layout,
       CAST(1 AS BIGINT) AS pruning_effective,
       r.c               AS n_range_rows,
       CAST(1 AS BIGINT) AS range_nonempty,
       CAST(1 AS BIGINT) AS pruned_matches_full,
       CAST(1 AS BIGINT) AS files_relation_consistent,
       CAST(1 AS BIGINT) AS history_starts_create,
       CAST(1 AS BIGINT) AS rollback_restored,
       o.c + LEAST(o.c, 10) AS n_after_cherrypick,
       CAST(1 AS BIGINT) AS cherry_content_ok
FROM o, r
"""


@register("m9_stats_file_skipping", oracle=_M9_ORACLE, tags=("M5", "S7", "S2"))
def m9_stats_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min/max file skipping from manifest statistics (Iceberg manifest
    pruning parity): a range scan must touch only files whose stats
    intersect the predicate and return exactly the full-filter answer.
    Also exercises the `files`/`history` metadata relations and
    cherrypick_snapshot.

    VALUE-ORACLED r12 (VERDICT r11 #4): the raw file counts are engine
    layout, but "the layout split into multiple files", "pruning
    excluded at least one file and kept at least one", the metadata
    relations' consistency and the rollback/cherry-pick row protocol
    are fixture-independent 0/1 contracts; the range-scan row count is
    fixture-derivable. Flags are computed from the measurements with
    NO preceding assert (ADVICE r11) — a violation flips the flag and
    hash-reds. s7b remains the metadata-relation value twin."""
    from ..sources.lakehouse import cherrypick_snapshot, history

    wh = tempfile.mkdtemp(prefix="lakehouse_")
    try:
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderdate", "o_totalprice"
        ).filter(F.col("o_orderkey") % 2 == 0)  # stats pruning is volume-free
        t = LakehouseTable(spark, wh, "orders_s")
        # write ordered by date so files get disjoint o_orderdate ranges
        t.create(o.repartitionByRange(6, "o_orderdate"))
        n_files = len(t._files())

        # ISO-string bounds cast Spark-side (r14 host-TZ sweep): a
        # naive Python datetime literal is converted through the
        # driver's LOCAL zone into a zoned timestamp, shifting the
        # range against the NTZ column by the host's UTC offset
        lo, hi = "1996-06-01 00:00:00", "1996-09-01 00:00:00"
        d_ty = t.read().schema["o_orderdate"].dataType
        pruned = t.pruned_files("o_orderdate", lo, hi)
        got = t.read_range("o_orderdate", lo, hi).count()
        want = (
            t.read()
            .filter(
                (F.col("o_orderdate") >= F.lit(lo).cast(d_ty))
                & (F.col("o_orderdate") <= F.lit(hi).cast(d_ty))
            )
            .count()
        )

        # metadata relations
        files_relation_consistent = int(t.files().count() == n_files)
        ops = [r.operation for r in history(t).orderBy("version").collect()]

        # cherry-pick an append snapshot onto a later state.
        # DETERMINISTIC slice (review-pass r16): a bare limit(10) can
        # return different rows per execution, which blocked any
        # content pin on the cherry-picked delta — count checks alone
        # would pass a cherrypick that re-applied an equal-cardinality
        # WRONG file set
        n1 = t.read().count()
        extra = o.orderBy("o_orderkey").limit(10).coalesce(1)
        v_app = t.append(extra)                   # v2: +min(n, 10) rows
        t.delete_where(F.col("o_orderkey") < 0)   # no-op keeps lineage moving
        t.append(o.orderBy(F.col("o_orderkey").desc()).limit(5).coalesce(1))  # v3
        t.rollback_to(1)                          # drop both appends
        # compare against the measured pre-append count, not n2 minus a
        # hard-coded 10: limit(10) on a small fixture slice may append
        # fewer rows (ADVICE r12)
        rollback_restored = int(t.read().count() == n1)
        cherrypick_snapshot(t, v_app)             # re-apply only v2's delta
        n_after = t.read().count()
        # CONTENT pin (review-pass r16): post-cherrypick multiset must
        # equal v1's rows plus exactly the v2 delta — a wrong file set
        # of the right cardinality flips this flag and hash-reds
        cherry_content_ok = _same_rows_flag(
            t.read(), t.read(version=1).unionAll(extra)
        )

        return spark.createDataFrame(
            [
                (
                    int(n_files >= 4),
                    int(0 < len(pruned) < n_files),
                    got,
                    # literal-1 oracle twin: an empty probe range would
                    # make got == want vacuously (review-pass r12)
                    int(want > 0),
                    int(got == want),
                    files_relation_consistent,
                    int(bool(ops) and ops[0] == "create"),
                    rollback_restored,
                    n_after,
                    cherry_content_ok,
                )
            ],
            "multi_file_layout bigint, pruning_effective bigint, "
            "n_range_rows bigint, range_nonempty bigint, "
            "pruned_matches_full bigint, "
            "files_relation_consistent bigint, history_starts_create bigint, "
            "rollback_restored bigint, n_after_cherrypick bigint, "
            "cherry_content_ok bigint",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- S7b: metadata tables value oracle ---------------------------------------
# m5/m9 exercise snapshots()/files()/history() inside larger
# lifecycles (rows-only); this twin pins the metadata relations
# themselves to VALUES (r11): with a CONTROLLED physical layout
# (repartition(2) create + repartition(1) append => exactly 3 files)
# every returned number is fixture-derivable — snapshot count, files()
# row count, history's op sequence as flags, and per-snapshot row
# counts. A metadata relation that lost a snapshot, double-counted a
# file, or mislabeled an op changes a value and hash-reds.

_S7B_ORACLE = """
SELECT CAST(2 AS BIGINT) AS n_snapshots,
       CAST(3 AS BIGINT) AS n_files_relation,
       CAST(1 AS BIGINT) AS ops_are_create_then_append,
       CAST(count(*) AS BIGINT) AS n_rows_v1,
       CAST(count(*) + 5 AS BIGINT) AS n_rows_current
FROM nation
"""


@register(
    "s7b_metadata_tables_values", oracle=_S7B_ORACLE, tags=("S7", "M5")
)
def s7b_metadata_tables_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.lakehouse import history

    wh = tempfile.mkdtemp(prefix="lakehouse_s7b_")
    try:
        nat = load_table(spark, sf_dir, "nation").select(
            "n_nationkey", "n_name", "n_regionkey"
        )
        t = LakehouseTable(spark, wh, "nation_s7b")
        t.create(nat.repartition(2))  # exactly 2 data files
        t.append(
            nat.filter(F.col("n_nationkey") < 5)
            .select(
                (F.col("n_nationkey") + 700).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            )
            .repartition(1)  # exactly 1 more file
        )
        snaps = t.snapshots().orderBy("version").collect()
        ops = [r.operation for r in history(t).orderBy("version").collect()]
        n_files = t.files().count()
        return spark.createDataFrame(
            [
                (
                    len(snaps),
                    int(n_files),
                    int(ops == ["create", "append"]),
                    t.read(version=1).count(),
                    t.read().count(),
                )
            ],
            "n_snapshots long, n_files_relation long, "
            "ops_are_create_then_append long, n_rows_v1 long, "
            "n_rows_current long",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M10_ORACLE = """
WITH o AS (
  SELECT o_orderkey % 8 AS b, o_totalprice, o_orderstatus FROM orders
  WHERE o_orderkey % 8 IN (0, 1, 2)
),
m AS (
  SELECT
    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN b IN (1, 2) THEN 1 ELSE 0 END) AS BIGINT) AS nr,
    CAST(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS BIGINT)
      AS nd,
    CAST(sum(CASE WHEN o_totalprice <= 200000 AND o_orderstatus = 'F'
                  THEN 1 ELSE 0 END) AS BIGINT) AS nu,
    CAST(sum(CASE WHEN o_totalprice <= 200000 THEN 1 ELSE 0 END) AS BIGINT)
      AS nf
  FROM o
)
SELECT 'changelog_delete' AS step, CAST(4 AS INTEGER) AS version,
       nd AS row_count FROM m
UNION ALL SELECT 'changelog_reconcile', 5, nf FROM m
UNION ALL SELECT 'changelog_update', 5, nu FROM m
UNION ALL SELECT 'incremental_append', 2, n2 FROM m
UNION ALL SELECT 'incremental_range', 3, nr FROM m
ORDER BY step
"""


@register("m10_incremental_cdc", oracle=_M10_ORACLE, tags=("S8",))
def m10_incremental_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan + row-level CDC changelog (S8 extended —
    Iceberg's start/end-snapshot-id read and create_changelog_view
    procedure; /root/reference README.md:36 pulls the runtime that
    provides both).

    Self-verifies: (a) the incremental scan between two snapshots is
    exactly the appended batch (set equality via exceptAll both ways);
    (b) a range containing a delete refuses the append-only scan;
    (c) the changelog of a DELETE emits exactly the deleted rows as
    DELETE images; (d) an UPDATE emits matching DELETE+INSERT pairs.
    """
    wh = tempfile.mkdtemp(prefix="lakehouse_cdc_")
    try:
        steps: list[tuple[str, int, int]] = []
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
        )
        # %8 buckets: 3/8 of orders is ample for append/delete/update
        # CDC assertions at half the scan+write cost of 3/4
        b1 = o.filter(F.col("o_orderkey") % 8 == 0).coalesce(2)
        b2 = o.filter(F.col("o_orderkey") % 8 == 1).coalesce(2)
        b3 = o.filter(F.col("o_orderkey") % 8 == 2).coalesce(2)
        t = LakehouseTable(spark, wh, "orders_cdc")

        v1 = t.create(b1)
        v2 = t.append(b2)
        inc = t.read_incremental(v1, v2)
        assert inc.exceptAll(b2).union(b2.exceptAll(inc)).limit(1).count() == 0, (
            "incremental v1..v2 must equal batch 2 exactly"
        )
        steps.append(("incremental_append", v2, inc.count()))

        v3 = t.append(b3)
        n_range = t.read_incremental(v1, v3).count()
        assert n_range == b2.count() + b3.count(), "incremental range spans appends"
        steps.append(("incremental_range", v3, n_range))

        # delete breaks append-only incremental semantics
        doomed = t.read().filter(F.col("o_totalprice") > 200000)
        n_doomed = doomed.count()
        assert n_doomed > 0, "fixture should have expensive orders"
        v4 = t.delete_where(F.col("o_totalprice") > 200000)
        try:
            t.read_incremental(v3, v4)
            raise AssertionError("incremental scan over a delete must refuse")
        except ValueError:
            pass

        chg = t.changelog(v3, v4)
        assert chg.filter(F.col("_change_type") == "INSERT").count() == 0, (
            "pure delete emits no inserts"
        )
        del_img = chg.filter(F.col("_change_type") == "DELETE").drop(
            "_change_type", "_change_version"
        )
        assert (
            del_img.exceptAll(doomed)
            .union(doomed.exceptAll(del_img))
            .limit(1)
            .count()
            == 0
        ), "DELETE images must be exactly the deleted rows"
        steps.append(("changelog_delete", v4, n_doomed))

        # update emits pre/post images
        n_upd = t.read().filter(F.col("o_orderstatus") == "F").count()
        v5 = t.update_set(
            F.col("o_orderstatus") == "F", {"o_orderstatus": F.lit("X")}
        )
        chg2 = t.changelog(v4, v5)
        ins = chg2.filter(F.col("_change_type") == "INSERT")
        dels = chg2.filter(F.col("_change_type") == "DELETE")
        assert ins.count() == n_upd and dels.count() == n_upd, (
            "UPDATE changelog must pair DELETE+INSERT per changed row"
        )
        assert ins.filter(F.col("o_orderstatus") != "X").count() == 0, (
            "post-images carry the new value"
        )
        steps.append(("changelog_update", v5, n_upd))

        # full-range changelog net row count reconciles with final state
        net = t.changelog(0, v5)
        n_ins = net.filter(F.col("_change_type") == "INSERT").count()
        n_del = net.filter(F.col("_change_type") == "DELETE").count()
        assert n_ins - n_del == t.read().count(), "changelog reconciles to state"
        steps.append(("changelog_reconcile", v5, n_ins - n_del))
        return _log(spark, steps)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M12_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nation)
SELECT 'create' AS step, CAST(1 AS INTEGER) AS version, c AS row_count FROM m
UNION ALL SELECT 'sql_delete', 3, c - 3 FROM m
UNION ALL SELECT 'sql_merge', 4, c - 3 FROM m
UNION ALL SELECT 'sql_update', 2, c FROM m
ORDER BY step
"""


@register("m12_sql_dml_door", oracle=_M12_ORACLE, tags=("M1", "M2", "M3"))
def m12_sql_dml_door(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DML driven purely through SQL strings — engine.sql("MERGE INTO
    ...") etc. — the reference's spark-sql UX (README.md:35-45), parsed
    by sources/sql_dml.py and executed on the snapshot layer.

    Self-verifies: UPDATE rewrites only matching rows; DELETE removes
    only rows where the predicate is TRUE (NULL-predicate rows must
    survive, SQL semantics); MERGE applies update+delete+insert clauses
    from one statement; every read goes back through the SQL door.
    """
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_sql_")
    try:
        steps: list[tuple[str, int, int]] = []
        eng = Engine(spark, warehouse=wh)
        nat = (
            load_table(spark, sf_dir, "nation")
            .coalesce(1)
            .withColumn(
                # NULL every third key: exercises NULL-predicate DELETE
                "n_score",
                F.when(F.col("n_nationkey") % 3 == 0, F.lit(None)).otherwise(
                    F.col("n_nationkey")
                ),
            )
        )
        eng.create_table("nation_sql", nat)
        n0 = eng.sql("SELECT count(*) AS c FROM nation_sql").collect()[0].c
        n_null = eng.sql(
            "SELECT count(*) AS c FROM nation_sql WHERE n_score IS NULL"
        ).collect()[0].c
        assert n_null > 0, "fixture should produce NULL scores"
        steps.append(("create", 1, n0))

        # -- UPDATE ... WHERE --
        r = eng.sql(
            "UPDATE nation_sql SET n_name = upper(concat('u_', n_name)) "
            "WHERE n_regionkey = 2"
        ).collect()[0]
        upd = eng.sql(
            "SELECT count(*) AS c FROM nation_sql "
            "WHERE n_regionkey = 2 AND n_name NOT LIKE 'U\\_%'"
        ).collect()[0].c
        assert upd == 0, "UPDATE must rewrite every matching row"
        assert r.n_rows == n0, "UPDATE preserves row count"
        steps.append(("sql_update", r.version, r.n_rows))

        # -- DELETE with a predicate that is NULL for some rows --
        r = eng.sql("DELETE FROM nation_sql WHERE n_score < 5").collect()[0]
        left_null = eng.sql(
            "SELECT count(*) AS c FROM nation_sql WHERE n_score IS NULL"
        ).collect()[0].c
        assert left_null == n_null, (
            "rows with NULL predicate must survive DELETE (SQL three-valued "
            "logic; only TRUE deletes)"
        )
        steps.append(("sql_delete", r.version, r.n_rows))
        n1 = r.n_rows

        # -- MERGE: update + delete + insert in one statement --
        # keys 6 and 9 have NULL n_score, so the DELETE above left them
        # in place — they are guaranteed MATCHED here; 300 is new.
        spark.createDataFrame(
            [
                (6, "MERGED", 9, 6),       # matched -> UPDATE (region 9)
                (9, "DROP", 9, 9),         # matched + cond -> DELETE
                (300, "BRAND_NEW", 9, 300) # not matched -> INSERT
            ],
            "n_nationkey int, n_name string, n_regionkey int, n_score int",
        ).createOrReplaceTempView("nation_updates")
        r = eng.sql(
            """
            MERGE INTO nation_sql AS t USING nation_updates AS s
            ON t.n_nationkey = s.n_nationkey
            WHEN MATCHED AND s.n_name = 'DROP' THEN DELETE
            WHEN MATCHED THEN UPDATE SET t.n_regionkey = s.n_regionkey
            WHEN NOT MATCHED THEN INSERT *
            """
        ).collect()[0]
        assert r.n_rows == n1, "merge net count (+1 insert, -1 delete)"
        got = {
            row.n_nationkey: row.n_regionkey
            for row in eng.sql(
                "SELECT n_nationkey, n_regionkey FROM nation_sql "
                "WHERE n_nationkey IN (6, 9, 300)"
            ).collect()
        }
        assert got.get(6) == 9, "MERGE updated matched row"
        assert 9 not in got, "MERGE deleted matched+cond row"
        assert got.get(300) == 9, "MERGE inserted unmatched row"
        steps.append(("sql_merge", r.version, r.n_rows))
        return _log(spark, steps)
    finally:
        for v in ("nation_sql", "nation_updates"):
            spark.catalog.dropTempView(v)
        shutil.rmtree(wh, ignore_errors=True)


_M11_ORACLE = """
SELECT CAST(1 AS BIGINT) AS hash_layout_no_pruning,
       CAST(1 AS BIGINT) AS sorted_layout_prunes,
       CAST(1 AS BIGINT) AS pre_scan_parity,
       CAST(1 AS BIGINT) AS post_scan_parity,
       CAST(count(*) AS BIGINT) AS n_range_rows,
       CAST(1 AS BIGINT) AS range_nonempty
FROM lineitem WHERE l_orderkey BETWEEN 100 AND 500
"""


@register("m11_sorted_clustering", oracle=_M11_ORACLE, tags=("M5", "X6"))
def m11_sorted_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-based rewrite_data_files (M5 — Iceberg's
    strategy=>'sort' compaction): re-cluster lineitem by l_orderkey so
    min/max file skipping prunes to ~1/N of the files for a narrow
    range predicate, instead of scanning every file.

    VALUE-ORACLED r12 (VERDICT r11 #4): the scan-set sizes are engine
    layout, but the CONTRACT is layout-free — (a) the hash layout
    leaves nothing to prune (every file intersects the probe range),
    (b) the sorted rewrite shrinks the scan set, (c) the range scan
    returns the identical multiset before and after (clustering is
    layout-only), (d) the range row count matches the fixture. Flags
    computed with NO preceding assert (ADVICE r11) — a violation flips
    a flag and hash-reds."""
    wh = tempfile.mkdtemp(prefix="lakehouse_sort_")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
        )
        # hash layout: every file spans the whole key range
        t = LakehouseTable(spark, wh, "lineitem_cluster")
        t.create(li.repartition(8, "l_partkey"))

        lo, hi = 100, 500
        expected = li.filter(F.col("l_orderkey").between(lo, hi))
        n_files_before = len(t._files())
        pruned_before = len(t.pruned_files("l_orderkey", lo, hi))
        pre_parity = _same_rows_flag(
            t.read_range("l_orderkey", lo, hi), expected
        )

        t.rewrite_sorted("l_orderkey", target_files=8)
        pruned_after = len(t.pruned_files("l_orderkey", lo, hi))
        after = t.read_range("l_orderkey", lo, hi)
        n_after = after.count()  # one job, reused (review-pass r18)

        return spark.createDataFrame(
            [
                (
                    int(pruned_before == n_files_before),
                    int(pruned_after < pruned_before),
                    pre_parity,
                    _same_rows_flag(after, expected),
                    n_after,
                    # literal-1 oracle twin (m9 pattern, review-pass
                    # r16): fixture drift emptying the probe range
                    # otherwise makes every parity flag vacuous 0==0
                    int(n_after > 0),
                )
            ],
            "hash_layout_no_pruning bigint, sorted_layout_prunes bigint, "
            "pre_scan_parity bigint, post_scan_parity bigint, "
            "n_range_rows bigint, range_nonempty bigint",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


_M13_ORACLE = """
WITH k AS (
  SELECT CAST(floor(max(l_orderkey) * 0.1) AS BIGINT) AS a_hi,
         CAST(floor(max(l_partkey) * 0.1) AS BIGINT) AS b_hi
  FROM lineitem
)
SELECT CAST(1 AS BIGINT) AS hash_layout_no_pruning_both,
       CAST(1 AS BIGINT) AS zorder_prunes_a,
       CAST(1 AS BIGINT) AS zorder_prunes_b,
       CAST(1 AS BIGINT) AS pre_scan_parity_a,
       CAST(1 AS BIGINT) AS pre_scan_parity_b,
       CAST(1 AS BIGINT) AS scan_parity_a,
       CAST(1 AS BIGINT) AS scan_parity_b,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem, k
        WHERE l_orderkey BETWEEN 0 AND k.a_hi) AS n_range_a,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem, k
        WHERE l_partkey BETWEEN 0 AND k.b_hi)  AS n_range_b,
       (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_rows_after,
       CAST(1 AS BIGINT) AS ranges_nonempty
"""


@register("m13_zorder_clustering", oracle=_M13_ORACLE, tags=("M5", "X6"))
def m13_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order rewrite (M5 — Iceberg's z-order strategy / Delta OPTIMIZE
    ZORDER): multi-dimensional clustering of lineitem on
    (l_orderkey, l_partkey). A 1-D sort prunes on its sort key only;
    the Morton-curve layout must make min/max file skipping bite on
    BOTH columns.

    VALUE-ORACLED r12 (VERDICT r11 #4): scan-set sizes are engine
    layout; the layout-free contract is (a) the hash layout prunes
    nothing on either column, (b) z-order shrinks the scan set for a
    range predicate on EACH column independently, (c) range-scan
    multisets are unchanged by the rewrite (layout-only — a
    pruning-count check alone would pass MORE easily if the scan set
    over-pruned; the parity flags catch silent row loss), (d) row
    count and both probe-range counts match the fixture. Flags
    computed with NO preceding assert (ADVICE r11)."""
    wh = tempfile.mkdtemp(prefix="lakehouse_zorder_")
    try:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity"
        )
        t = LakehouseTable(spark, wh, "lineitem_z")
        t.create(li.repartition(16, "l_quantity"))

        keys = li.agg(
            F.max("l_orderkey").alias("ok"), F.max("l_partkey").alias("pk")
        ).collect()[0]
        # narrow probes: ~10% of each key range
        a_lo, a_hi = 0, int(keys["ok"] * 0.1)
        b_lo, b_hi = 0, int(keys["pk"] * 0.1)

        n_files = len(t._files())
        pa0 = len(t.pruned_files("l_orderkey", a_lo, a_hi))
        pb0 = len(t.pruned_files("l_partkey", b_lo, b_hi))
        expected_a = li.filter(F.col("l_orderkey").between(a_lo, a_hi))
        expected_b = li.filter(F.col("l_partkey").between(b_lo, b_hi))
        # pre-rewrite parity (review-pass r12: the r12 conversion
        # initially dropped this without a replacement flag): a
        # read_range bug on the initial hash layout — e.g. boundary
        # rows lost to min/max pruning before any rewrite — must flip
        # a flag, not hide behind the post-rewrite checks
        pre_parity_a = _same_rows_flag(
            t.read_range("l_orderkey", a_lo, a_hi), expected_a
        )
        pre_parity_b = _same_rows_flag(
            t.read_range("l_partkey", b_lo, b_hi), expected_b
        )

        t.rewrite_zorder("l_orderkey", "l_partkey", target_files=16)
        n_rows_after = t.read().count()
        pa1 = len(t.pruned_files("l_orderkey", a_lo, a_hi))
        pb1 = len(t.pruned_files("l_partkey", b_lo, b_hi))
        scan_a = t.read_range("l_orderkey", a_lo, a_hi)
        scan_b = t.read_range("l_partkey", b_lo, b_hi)
        # one count job per scan, reused below (review-pass r18: each
        # was recomputed for the nonempty flag — four extra Spark jobs)
        n_a, n_b = scan_a.count(), scan_b.count()

        return spark.createDataFrame(
            [
                (
                    int(pa0 == n_files and pb0 == n_files),
                    int(pa1 < pa0),
                    int(pb1 < pb0),
                    pre_parity_a,
                    pre_parity_b,
                    _same_rows_flag(scan_a, expected_a),
                    _same_rows_flag(scan_b, expected_b),
                    n_a,
                    n_b,
                    # == fixture count IFF neither create nor rewrite
                    # lost rows — no comparison needed, the hash is it
                    n_rows_after,
                    # literal-1 oracle twin (m9 pattern, review-pass
                    # r16): an empty probe range would make every
                    # parity flag vacuous
                    int(n_a > 0 and n_b > 0),
                )
            ],
            "hash_layout_no_pruning_both bigint, zorder_prunes_a bigint, "
            "zorder_prunes_b bigint, pre_scan_parity_a bigint, "
            "pre_scan_parity_b bigint, scan_parity_a bigint, "
            "scan_parity_b bigint, n_range_a bigint, n_range_b bigint, "
            "n_rows_after bigint, ranges_nonempty bigint",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- P3 (oracled): hidden-partition pruning with DuckDB-verifiable data ----
# The other lakehouse queries are rows-only lifecycles; this one returns
# the actual DATA of a partition-pruned read so the driver hash-verifies
# it against DuckDB reading the raw events parquet — converting P3 from
# "rows-only evidence" to a hard correctness row. The pruning itself is
# asserted internally on read_pruned's scan set (only the probe day's
# files are kept).
#
# Module-lifetime warehouse (like format_queries._TMP_ROOT): the
# returned DataFrame is a lazy scan over the written files, so the
# warehouse must outlive the query function — the driver collects after
# return. Each run recreates the table directory for idempotence.

from ..util import process_tmp_root  # noqa: E402

_P3_WH = process_tmp_root("spark_graft_p3_")

_P3_ORACLE = """
SELECT event_id, ts, user_id, event_type
FROM events
WHERE event_id % 5 = 0
  AND ts >= TIMESTAMP '2024-01-15 00:00:00'
  AND ts < TIMESTAMP '2024-01-16 00:00:00'
ORDER BY event_id
"""


@register("p3_hidden_partition_pruning", oracle=_P3_ORACLE, tags=("P3", "M7"))
def p3_hidden_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning end-to-end (SURVEY §2.2 P3): events written
    PARTITIONED BY days(ts), then a range predicate on the SOURCE
    column ts — never the derived partition column — goes through the
    engine's manifest-level predicate rewrite (read_pruned) which must
    (a) return exactly the rows DuckDB sees in the raw parquet (the
    oracle) and (b) construct the scan over a strict subset of the
    table's files. The file-count assert is on the SCAN SET the engine
    built, not on which files produced surviving rows — a rewrite that
    silently stopped pruning (kept all files) fails it.

    At 100 TB this is the difference between reading one day and
    reading the table; real Iceberg does the same manifest filtering
    in SparkScanBuilder (reference main.tf:792-806, README.md:36)."""
    import os

    shutil.rmtree(os.path.join(_P3_WH, "events_p3"), ignore_errors=True)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type")
        .filter(
            (F.col("event_id") % 5 == 0)
            & (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
    )
    t = LakehouseTable(spark, _P3_WH, "events_p3")
    t.create(ev, partition_by=["days(ts)"])

    lo = "2024-01-15 00:00:00"
    hi = "2024-01-16 00:00:00"
    day_read, kept_f, all_f = t.read_pruned("ts", lo, hi)
    # partition-LEVEL contract (layout-invariant — file-count ratios
    # scale with the writer's input task count): 10 day partitions were
    # written; the probe keeps exactly its own day's files.
    kept_days = _hidden_partition_values(kept_f, "p_days_ts")
    all_days = _hidden_partition_values(all_f, "p_days_ts")
    if len(all_days) != 10 or kept_days != _DAY_PROBE_PARTS:
        raise AssertionError(
            f"hidden-partition rewrite did not prune: kept "
            f"{sorted(kept_days)} of {sorted(all_days)}"
        )
    return day_read.select("event_id", "ts", "user_id", "event_type").orderBy(
        "event_id"
    )


# --- M14: MERGE WITH SCHEMA EVOLUTION ---------------------------------------
# Iceberg/Spark 4 `mergeInto(...).withSchemaEvolution()`: a source feed
# grows a column, and ONE merge both evolves the target schema
# (manifest-only ADD, M6 — zero file rewrites for untouched data) and
# applies the upsert. Self-verified: evolved schema visible, untouched
# rows read NULL for the new column, matched/inserted rows carry source
# values, and the PRE-merge snapshot still presents the old schema.


# m14: MERGE with automatic schema evolution — the step protocol is
# deterministic (create=v1, the evolving merge=v2) and the counts are
# fixture-derivable, so the lifecycle log itself is value-ORACLED
# (r11); the per-row semantics (update/insert/NULL backfill/pre-merge
# schema isolation) stay in-query asserts plus m6c's content twin.

_M14_ORACLE = """
SELECT 'create' AS step, CAST(1 AS INTEGER) AS version,
       CAST(count(*) AS BIGINT) AS row_count
FROM nation
UNION ALL
SELECT 'merge_evolve', CAST(2 AS INTEGER), CAST(count(*) + 1 AS BIGINT)
FROM nation
ORDER BY step
"""


@register("m14_merge_schema_evolution", oracle=_M14_ORACLE, tags=("M1", "M6"))
def m14_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_msev_")
    try:
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = LakehouseTable(spark, wh, "nation_msev")
        v1 = t.create(nat)
        n0 = t.read().count()

        # source grows a quality_score column the target never had
        src = spark.createDataFrame(
            [(0, "EVOLVED_A", 9, 0.91), (300, "EVOLVED_NEW", 9, 0.42)],
            "n_nationkey int, n_name string, n_regionkey int, "
            "quality_score double",
        )
        v2 = t.merge_into(
            src,
            on="n_nationkey",
            validate_source_keys=False,
            schema_evolution=True,
        )

        cur = t.read().cache()
        try:
            if "quality_score" not in cur.columns:
                raise AssertionError("schema did not evolve through merge")
            rows = {r.n_nationkey: r for r in cur.collect()}  # ≤ 26 rows
            if len(rows) != n0 + 1:
                raise AssertionError("merge net count wrong")
            if rows[0].quality_score != 0.91 or rows[0].n_name != "EVOLVED_A":
                raise AssertionError("matched row missed update")
            if rows[300].quality_score != 0.42:
                raise AssertionError("inserted row missed new column")
            n_null = sum(
                1 for r in rows.values() if r.quality_score is None
            )
            if n_null != n0 - 1:
                raise AssertionError(
                    f"untouched rows must read NULL: {n_null} != {n0 - 1}"
                )
        finally:
            cur.unpersist()
        # pre-merge snapshot: old schema, old rows
        old = t.read(version=v1)
        if "quality_score" in old.columns or old.count() != n0:
            raise AssertionError("time-travel read leaked evolved schema")
        return _log(
            spark,
            [("create", v1, n0), ("merge_evolve", v2, n0 + 1)],
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M15: catalog namespace + TIMESTAMP AS OF -------------------------------
# The reference's data model is catalog.schema.table through UC's REST
# catalog with spark.sql.defaultCatalog making bare names resolve
# (SURVEY §1; main.tf:698-723, :802). sources/catalog.py provides the
# same resolution over the snapshot layer; this query proves 1/2/3-part
# name resolution, SHOW SCHEMAS/TABLES listing, cross-schema isolation,
# and the timestamp spelling of time travel (read_as_of_timestamp).
# The REST transport itself (type=rest + OAuth2, main.tf:794-806) is
# exercised end-to-end over real localhost HTTP by
# tests/test_iceberg_integration.py::TestRestCatalogStub (r16:
# sources/rest_catalog.py serves the Iceberg REST routes, and
# catalog_for_session routes this same resolution surface through it).


# Value-ORACLED (r11): the namespace layout after the lifecycle (2
# schemas, 1 analytics table post-drop) and the time-travel counts are
# all fixture-derivable 0-arity facts, so a resolution/isolation/
# travel bug changes a value and hash-reds.

_M15_ORACLE = """
SELECT CAST(2 AS BIGINT) AS n_schemas,
       CAST(1 AS BIGINT) AS n_tables_analytics,
       CAST(count(*) AS BIGINT) AS n_v1,
       CAST(count(*) + 3 AS BIGINT) AS n_now
FROM nation
"""


@register("m15_catalog_namespace", oracle=_M15_ORACLE, tags=("S1", "M4"))
def m15_catalog_namespace(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import LakehouseCatalog

    wh = tempfile.mkdtemp(prefix="lakehouse_cat_")
    try:
        cat = LakehouseCatalog(spark, wh, "local", "default")
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        reg = load_table(spark, sf_dir, "region").coalesce(1)

        cat.create_table("nation", nat)  # 1-part -> local.default.nation
        cat.create_table("analytics.region", reg)  # 2-part
        cat.create_table("local.analytics.regio2", reg)  # 3-part
        if not (
            cat.exists("local.default.nation")
            and cat.exists("analytics.region")
            and cat.exists("analytics.regio2")
        ):
            raise AssertionError("namespace resolution broken across arities")
        if cat.exists("default.region"):
            raise AssertionError("schema isolation broken")
        if cat.list_schemas() != ["analytics", "default"]:
            raise AssertionError(f"SHOW SCHEMAS wrong: {cat.list_schemas()}")
        if cat.list_tables("analytics") != ["regio2", "region"]:
            raise AssertionError(f"SHOW TABLES wrong: {cat.list_tables('analytics')}")

        # TIMESTAMP AS OF: capture the commit time of v1, append, then a
        # read as-of that instant must see only v1's rows.  Spin-wait
        # until the clock advances past v1's ms (the m16 fix,
        # review-pass r16): the old same-ms fallback read(version=1)
        # made the check COMPARE v1 WITH ITSELF exactly on the
        # ambiguous-timing runs — read_as_of_timestamp was never
        # exercised there.
        t = cat.table("nation")
        v1_ts = t.snapshots().filter(F.col("version") == 1).collect()[0].ts_ms
        _wait_clock_past_ms(v1_ts)
        t.append(
            nat.select(
                (F.col("n_nationkey") + 900).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            ).limit(3)
        )
        n_asof = t.read_as_of_timestamp(v1_ts).count()
        n_v1 = t.read(version=1).count()
        n_now = t.read().count()
        if n_asof != n_v1 or n_now != n_v1 + 3:
            raise AssertionError(
                f"TIMESTAMP AS OF wrong: asof={n_asof} v1={n_v1} now={n_now}"
            )
        # before-creation timestamp refuses (Iceberg contract)
        try:
            t.read_as_of_timestamp(0)
            raise AssertionError("as-of before creation must raise")
        except ValueError:
            pass
        cat.drop_table("analytics.regio2")
        if cat.exists("analytics.regio2"):
            raise AssertionError("drop_table left the table resolvable")
        return spark.createDataFrame(
            [(len(cat.list_schemas()), len(cat.list_tables("analytics")), n_v1, n_now)],
            "n_schemas long, n_tables_analytics long, n_v1 long, n_now long",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M16: SQL-door SELECT time travel ---------------------------------------
# The spark-sql spelling of S8/M4 the reference's users type
# (README.md:35-45): `SELECT ... FROM t VERSION AS OF n` and
# `... TIMESTAMP AS OF 'ts'`, rewritten by sources/sql_dml.py onto the
# snapshot layer. Self-verified: v1 counts through the SQL door equal
# the API read, the current view sees the append, the timestamp
# spelling resolves to v1, and a join of two travel points inside ONE
# statement works (each reference rewrites independently). Every
# returned count is fixture-derivable (the append is 4 relabeled
# rows), so the whole contract is value-ORACLED (r11): a travel
# clause resolving to the wrong snapshot changes a count and
# hash-reds.

_M16_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_v1,
       CAST(count(*) + 4 AS BIGINT) AS n_now,
       CAST(count(*) AS BIGINT) AS n_asof,
       CAST(4 AS BIGINT) AS n_delta
FROM nation
"""


@register("m16_sql_time_travel", oracle=_M16_ORACLE, tags=("S8", "M4", "M16"))
def m16_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_tt_")
    try:
        eng = Engine(spark, warehouse=wh)
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = eng.create_table("nation_tt", nat)
        n0 = nat.count()
        v1_ts = t.snapshots().collect()[0].ts_ms
        # make v2's commit ms strictly later so the TIMESTAMP AS OF
        # assertion below can never self-disable on a same-ms tie
        _wait_clock_past_ms(v1_ts)
        t.append(
            nat.select(
                (F.col("n_nationkey") + 800).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            ).limit(4)
        )

        n_v1 = eng.sql(
            "SELECT count(*) AS n FROM nation_tt VERSION AS OF 1"
        ).collect()[0].n
        n_now = eng.sql("SELECT count(*) AS n FROM nation_tt").collect()[0].n
        if n_v1 != n0 or n_now != n0 + 4:
            raise AssertionError(f"SQL time travel wrong: v1={n_v1}, now={n_now}")

        from datetime import datetime, timezone

        iso = datetime.fromtimestamp(v1_ts / 1000, tz=timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.%f"
        )
        n_asof = eng.sql(
            f"SELECT count(*) AS n FROM nation_tt TIMESTAMP AS OF '{iso}'"
        ).collect()[0].n
        if n_asof != n0:
            raise AssertionError(f"TIMESTAMP AS OF resolved {n_asof}, want {n0}")

        # two travel points in one statement: new rows appear only on
        # the current side of the anti-join
        delta = eng.sql(
            """
            SELECT count(*) AS n FROM nation_tt cur
            WHERE cur.n_nationkey NOT IN (
              SELECT n_nationkey FROM nation_tt VERSION AS OF 1
            )
            """
        ).collect()[0].n
        if delta != 4:
            raise AssertionError(f"cross-snapshot delta wrong: {delta}")
        return spark.createDataFrame(
            [(int(n_v1), int(n_now), int(n_asof), int(delta))],
            "n_v1 long, n_now long, n_asof long, n_delta long",
        )
    finally:
        # the warehouse dies with this query — drop the view the door
        # bound so no dangling reference to deleted parquet remains
        # (the door drops its __tt_* views after each statement)
        spark.catalog.dropTempView("nation_tt")
        shutil.rmtree(wh, ignore_errors=True)


# --- M17: ADD COLUMN with initial DEFAULT (Iceberg v3) ----------------------
# Schema evolution that backfills WITHOUT rewriting: rows in files
# predating the column read the declared default (manifest bookkeeping,
# zero data-file writes); rows written afterwards read stored values —
# including genuine NULLs, which a naive coalesce() would destroy.
# CoW rewrites materialize the default for rows they touch
# (sources/lakehouse.py::_scan_files is the single scan path), so the
# default graduates out organically. Self-verified across evolution,
# append, DELETE rewrite, and time travel.


# m17: every returned number is fixture-derivable (nation keys are
# 0..24 at every SF: 10 pre-evolution rows read the default, key 3 is
# CoW-deleted, so 24 rows / 9 defaulted) — value-ORACLED r11; the
# NULL-vs-default and time-travel clauses stay in-query asserts.

_M17_ORACLE = """
SELECT CAST(count(*) - 1 AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN n_nationkey < 10 AND n_nationkey <> 3
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_defaulted
FROM nation
"""


@register("m17_column_defaults", oracle=_M17_ORACLE, tags=("M6", "M17"))
def m17_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    wh = tempfile.mkdtemp(prefix="lakehouse_def_")
    try:
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = LakehouseTable(spark, wh, "nation_def")
        t.create(nat.filter(F.col("n_nationkey") < 10))
        t.add_column("quality_tier", "string", default="unreviewed")
        t.append(
            nat.filter(F.col("n_nationkey") >= 10).withColumn(
                "quality_tier",
                F.when(F.col("n_nationkey") % 2 == 0, F.lit("gold")),
            )
        )
        rows = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
        if any(rows[k] != "unreviewed" for k in range(10)):
            raise AssertionError("pre-evolution rows did not read the default")
        if rows[10] != "gold" or rows[11] is not None:
            raise AssertionError("post-evolution stored values corrupted")
        # CoW rewrite keeps defaults for surviving rewritten rows
        t.delete_where(F.col("n_nationkey") == 3)
        rows2 = {r.n_nationkey: r.quality_tier for r in t.read().collect()}
        if rows2[4] != "unreviewed" or 3 in rows2:
            raise AssertionError("delete rewrite lost the initial default")
        # pre-evolution snapshot never shows the column
        if "quality_tier" in t.read(version=1).columns:
            raise AssertionError("time travel leaked the evolved column")
        n_default = sum(1 for v in rows2.values() if v == "unreviewed")
        return spark.createDataFrame(
            [(len(rows2), n_default)],
            "n_rows long, n_defaulted long",
        )
    finally:
        shutil.rmtree(wh, ignore_errors=True)


# --- M18: CALL system.* procedures through the SQL door ---------------------
# The reference's users run maintenance as Iceberg stored procedures
# (`CALL cat.system.rollback_to_snapshot(...)`, SURVEY §2.11 M4/M5);
# sources/sql_dml.py binds the parsed CALL's positional and
# name => value args and dispatches to the snapshot layer. Self-
# verified: rollback restores v1 counts, rewrite_data_files compacts to
# one file preserving the multiset, expire trims history while the
# current read survives. Value-ORACLED (r11): the counts and the
# compaction layout are fixture-derivable; expire's exact snapshot
# arithmetic is engine bookkeeping, so it is pinned as the 0/1
# "history shrank" flag rather than raw snapshot counts.

_M18_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files_after_compact,
       CAST(count(*) + 5 AS BIGINT) AS n_after_cherrypick,
       CAST(1 AS BIGINT) AS expire_trimmed
FROM nation
"""


@register("m18_call_procedures", oracle=_M18_ORACLE, tags=("M4", "M5", "M18"))
def m18_call_procedures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_call_")
    try:
        eng = Engine(spark, warehouse=wh)
        nat = load_table(spark, sf_dir, "nation").coalesce(1)
        t = eng.create_table("nation_proc", nat)
        n0 = nat.count()
        t.append(
            nat.limit(5).select(
                (F.col("n_nationkey") + 650).alias("n_nationkey"),
                "n_name",
                "n_regionkey",
            )
        )

        eng.sql("CALL system.rollback_to_snapshot('nation_proc', 1)")
        n_after_rb = eng.sql(
            "SELECT count(*) AS n FROM nation_proc"
        ).collect()[0].n
        if n_after_rb != n0:
            raise AssertionError(f"CALL rollback left {n_after_rb} rows")

        eng.sql(
            "CALL system.rewrite_data_files('nation_proc', "
            "target_partitions => 1)"
        )
        t2 = eng.managed("nation_proc")
        n_files = len(t2._files())
        if n_files != 1 or t2.read().count() != n0:
            raise AssertionError(
                f"CALL rewrite_data_files wrong: {n_files} files"
            )

        # cherrypick the v2 append delta back on top (M5, r7: bound
        # through the door per sources/lakehouse.py cherrypick)
        eng.sql(
            "CALL system.cherrypick_snapshot('nation_proc', snapshot_id => 2)"
        )
        n_after_cp = eng.managed("nation_proc").read().count()
        if n_after_cp != n0 + 5:
            raise AssertionError(
                f"CALL cherrypick_snapshot wrong: {n_after_cp} rows"
            )

        # sort-strategy rewrite through the same procedure (Iceberg
        # rewrite_data_files(strategy => 'sort', sort_order => col))
        eng.sql(
            "CALL system.rewrite_data_files('nation_proc', "
            "strategy => 'sort', sort_order => 'n_nationkey', "
            "target_partitions => 2)"
        )
        if eng.managed("nation_proc").read().count() != n0 + 5:
            raise AssertionError("sort-strategy rewrite lost rows")

        before = t2.snapshots().count()
        # Iceberg argument NAME (retain_last) and positional ORDER
        # (older_than first) both bind since r7
        eng.sql(
            "CALL system.expire_snapshots('nation_proc', retain_last => 1)"
        )
        after = t2.snapshots().count()
        if not (after < before and t2.read().count() == n0 + 5):
            raise AssertionError(
                f"CALL expire_snapshots wrong: {before} -> {after}"
            )

        # metadata-only manifest rewrite: same data files, canonical
        # order, op recorded (the 6th door-bound M5 procedure)
        files_pre = set(eng.managed("nation_proc")._files())
        eng.sql("CALL system.rewrite_manifests('nation_proc')")
        t3 = eng.managed("nation_proc")
        if set(t3._files()) != files_pre or t3._files() != sorted(files_pre):
            raise AssertionError("rewrite_manifests touched data files")

        # plant an orphan (a parquet no manifest references) and sweep
        # it via the door; live files must survive
        orphan_dir = os.path.join(wh, "nation_proc", "data", "orphanbatch")
        os.makedirs(orphan_dir, exist_ok=True)
        orphan = os.path.join(orphan_dir, "part-orphan.parquet")
        with open(orphan, "wb") as fh:
            fh.write(b"PAR1junkPAR1")
        swept = eng.sql(
            "CALL system.remove_orphan_files('nation_proc')"
        ).collect()[0].result
        if "part-orphan.parquet" not in swept or os.path.exists(orphan):
            raise AssertionError(f"orphan not swept: {swept!r}")
        if eng.managed("nation_proc").read().count() != n0 + 5:
            raise AssertionError("remove_orphan_files deleted live data")

        return spark.createDataFrame(
            [(int(n0), int(n_files), int(n_after_cp), int(after < before))],
            "n_rows long, n_files_after_compact long, "
            "n_after_cherrypick long, expire_trimmed long",
        )
    finally:
        spark.catalog.dropTempView("nation_proc")
        shutil.rmtree(wh, ignore_errors=True)


_M20_ORACLE = """
WITH m AS (SELECT CAST(count(*) AS BIGINT) AS c FROM region)
SELECT 'ctas' AS step, CAST(1 AS INTEGER) AS version, c AS row_count FROM m
UNION ALL SELECT 'delete', 4, c + 1 FROM m
UNION ALL SELECT 'insert_overwrite', 8, c FROM m
UNION ALL SELECT 'insert_values', 2, c + 2 FROM m
UNION ALL SELECT 'maintenance', 9, c FROM m
UNION ALL SELECT 'merge', 5, c + 1 FROM m
UNION ALL SELECT 'update', 3, c + 2 FROM m
ORDER BY step
"""


@register("m20_pure_sql_lifecycle", oracle=_M20_ORACLE, tags=("M1", "M18", "S4", "S5"))
def m20_pure_sql_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's complete spark-sql session (README.md:35-45)
    with ZERO API calls — every step a SQL string through engine.sql:
    CTAS, INSERT INTO (VALUES and SELECT), MERGE, UPDATE, DELETE,
    INSERT OVERWRITE, ALTER ADD/RENAME, time travel, CALL maintenance.
    Self-asserted row counts at every step; this is the "a user of the
    reference could switch and run every statement they run today"
    proof for the write path."""
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_m20_")
    try:
        eng = Engine(spark, warehouse=wh)
        load_table(spark, sf_dir, "region").createOrReplaceTempView(
            "region_m20_src"
        )
        steps: list[tuple[str, int, int]] = []

        def step(name, sql, want_rows):
            eng.sql(sql)
            n = eng.sql("SELECT count(*) AS n FROM reg_m20").collect()[0].n
            if n != want_rows:
                raise AssertionError(f"{name}: {n} rows, wanted {want_rows}")
            steps.append((name, eng.managed("reg_m20").current_version(), n))

        n0 = spark.table("region_m20_src").count()
        step(
            "ctas",
            "CREATE TABLE reg_m20 AS SELECT * FROM region_m20_src",
            n0,
        )
        step(
            "insert_values",
            "INSERT INTO reg_m20 VALUES (90, 'ATLANTIS'), (91, 'LEMURIA')",
            n0 + 2,
        )
        step(
            "update",
            "UPDATE reg_m20 SET r_name = lower(r_name) WHERE r_regionkey >= 90",
            n0 + 2,
        )
        step(
            "delete",
            "DELETE FROM reg_m20 WHERE r_regionkey = 91",
            n0 + 1,
        )
        spark.sql(
            "SELECT 90 AS r_regionkey, 'atlantis-2' AS r_name"
        ).createOrReplaceTempView("m20_updates")
        step(
            "merge",
            "MERGE INTO reg_m20 AS t USING m20_updates AS s "
            "ON t.r_regionkey = s.r_regionkey "
            "WHEN MATCHED THEN UPDATE SET t.r_name = s.r_name "
            "WHEN NOT MATCHED THEN INSERT *",
            n0 + 1,
        )
        eng.sql("ALTER TABLE reg_m20 ADD COLUMN zone STRING DEFAULT 'na'")
        eng.sql("ALTER TABLE reg_m20 RENAME COLUMN zone TO geo_zone")
        n_def = eng.sql(
            "SELECT count(*) AS n FROM reg_m20 WHERE geo_zone = 'na'"
        ).collect()[0].n
        if n_def != n0 + 1:
            raise AssertionError(f"default through ALTER door: {n_def}")
        step(
            "insert_overwrite",
            "INSERT OVERWRITE reg_m20 "
            "SELECT r_regionkey, r_name, 'ow' AS geo_zone "
            "FROM reg_m20 WHERE r_regionkey < 90",
            n0,
        )
        # pre-overwrite state reachable via SQL time travel
        v_before = eng.managed("reg_m20").current_version() - 1
        n_tt = eng.sql(
            f"SELECT count(*) AS n FROM reg_m20 VERSION AS OF {v_before}"
        ).collect()[0].n
        if n_tt != n0 + 1:
            raise AssertionError(f"time travel after overwrite: {n_tt}")
        eng.sql("CALL system.rewrite_manifests('reg_m20')")
        eng.sql("CALL system.expire_snapshots('reg_m20', retain_last => 1)")
        n_final = eng.sql("SELECT count(*) AS n FROM reg_m20").collect()[0].n
        if n_final != n0:
            raise AssertionError(f"post-maintenance count: {n_final}")
        steps.append(
            ("maintenance", eng.managed("reg_m20").current_version(), n_final)
        )
        return _log(spark, steps)
    finally:
        for v in ("reg_m20", "region_m20_src", "m20_updates"):
            spark.catalog.dropTempView(v)
        shutil.rmtree(wh, ignore_errors=True)


# --- M20b: pure-SQL lifecycle content oracle ---------------------------------
# m20 self-asserts per-step counts; this twin hash-proves the CONTENT
# the same statement sequence leaves behind (m12b/m6c precedent), at
# the two states a count cannot pin: the pre-OVERWRITE head reached by
# SQL time travel (base rows with the ALTER DEFAULT backfill plus the
# MERGE-updated key-90 row) and the final post-OVERWRITE table. The
# statements are exactly the reference session's spellings
# (README.md:35-45): CTAS, INSERT VALUES, UPDATE, DELETE, MERGE,
# ALTER ADD DEFAULT + RENAME, INSERT OVERWRITE, VERSION AS OF.

_M20B_ORACLE = """
WITH base AS (
  SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region
),
pre AS (
  SELECT r_regionkey, r_name, 'na' AS geo_zone FROM base
  UNION ALL
  SELECT 90, 'atlantis-2', 'na'
)
SELECT 'pre_overwrite' AS phase, * FROM pre
UNION ALL
SELECT 'final', r_regionkey, r_name, 'ow' FROM base
ORDER BY phase, r_regionkey
"""


@register(
    "m20b_sql_lifecycle_values",
    oracle=_M20B_ORACLE,
    tags=("M1", "M18", "S4", "S5", "M20"),
)
def m20b_sql_lifecycle_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..engine import Engine

    wh = tempfile.mkdtemp(prefix="lakehouse_m20b_")
    try:
        eng = Engine(spark, warehouse=wh)
        load_table(spark, sf_dir, "region").createOrReplaceTempView(
            "region_m20b_src"
        )
        eng.sql("CREATE TABLE reg_m20b AS SELECT * FROM region_m20b_src")
        eng.sql(
            "INSERT INTO reg_m20b VALUES (90, 'ATLANTIS'), (91, 'LEMURIA')"
        )
        eng.sql(
            "UPDATE reg_m20b SET r_name = lower(r_name) WHERE r_regionkey >= 90"
        )
        eng.sql("DELETE FROM reg_m20b WHERE r_regionkey = 91")
        spark.sql(
            "SELECT 90 AS r_regionkey, 'atlantis-2' AS r_name"
        ).createOrReplaceTempView("m20b_updates")
        eng.sql(
            "MERGE INTO reg_m20b AS t USING m20b_updates AS s "
            "ON t.r_regionkey = s.r_regionkey "
            "WHEN MATCHED THEN UPDATE SET t.r_name = s.r_name "
            "WHEN NOT MATCHED THEN INSERT *"
        )
        eng.sql("ALTER TABLE reg_m20b ADD COLUMN zone STRING DEFAULT 'na'")
        eng.sql("ALTER TABLE reg_m20b RENAME COLUMN zone TO geo_zone")
        eng.sql(
            "INSERT OVERWRITE reg_m20b "
            "SELECT r_regionkey, r_name, 'ow' AS geo_zone "
            "FROM reg_m20b WHERE r_regionkey < 90"
        )
        v_before = eng.managed("reg_m20b").current_version() - 1
        cols = [
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
            "geo_zone",
        ]
        pre = eng.sql(
            f"SELECT * FROM reg_m20b VERSION AS OF {v_before}"
        ).select(F.lit("pre_overwrite").alias("phase"), *cols)
        fin = eng.sql("SELECT * FROM reg_m20b").select(
            F.lit("final").alias("phase"), *cols
        )
        out = pre.unionAll(fin).orderBy("phase", "r_regionkey")
        return out.localCheckpoint()  # temp warehouse removed in finally
    finally:
        for v in ("reg_m20b", "region_m20b_src", "m20b_updates"):
            spark.catalog.dropTempView(v)
        shutil.rmtree(wh, ignore_errors=True)
