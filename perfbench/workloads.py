"""The two closed-loop, single-client workloads.

Each workload makes its inputs from the seed in ``inputs`` (before the
SparkSession starts; benchmark-side work that ``setup_s`` leaves out),
builds its tables through the package in ``setup``, then runs rounds: ``prepare`` (untimed inputs for the round), ``ops`` (the timed
op mix, one op after the other), ``check`` (untimed correctness checks)
and ``reset`` (untimed). Every op goes through ``Run.op``, which times
it and counts failures.

* ``analytic`` — read-only registry queries over generated TPC-H-like
  fixtures, executed to the noop sink; results are hash-compared with the
  queries' DuckDB oracles.
* ``lakehouse`` — two managed tables derived from lineitem, one round
  touching both: the write path (SQL ``MERGE INTO`` / ``UPDATE`` /
  ``DELETE`` through ``Engine.sql``, replayed in DuckDB; :class:`DmlPart`)
  and the metadata path (an ``INSERT INTO`` commit, pruned range reads,
  ``VERSION AS OF`` reads and REST-catalog resolves on a table with a
  history of small appends; :class:`SnapshotsPart`).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import fixtures
from measure import dir_bytes, files_bytes, median

KEY = "k"
KEY_SQL = f"l_orderkey * {fixtures.KEY_STRIDE} + l_linenumber"


def _rotate(items, n):
    n %= len(items)
    return list(items[n:]) + list(items[:n])


def _write_metrics(run, table, parent_files, rows_changed, bytes_per_row):
    """Write-path counters of the commit ``table`` just made, read from
    its manifests on disk."""
    v = table.current_version()
    path = os.path.join(table.snap_dir, f"v{v:05d}.json")
    with open(path) as f:
        files = json.load(f)["files"]
    new = set(files)
    old = set(parent_files)
    added = sorted(new - old)
    written = files_bytes(added)
    run.layer("lakehouse.files_added", len(added))
    run.layer("lakehouse.files_rewritten", len(old - new))
    run.layer("lakehouse.data_bytes_written", written)
    run.layer("lakehouse.manifest_bytes", os.path.getsize(path))
    run.layer("lakehouse.live_files", len(files))
    run.layer("lakehouse.versions", len(os.listdir(table.snap_dir)))
    changed = rows_changed * bytes_per_row
    run.layer("lakehouse.write_amp", written / changed if changed else 0.0)
    t0 = time.perf_counter()
    table.main_head()
    run.layer("lakehouse.main_head_s", time.perf_counter() - t0)


def _space(table) -> tuple[int, int]:
    """(bytes under the table root, bytes of the live snapshot's files)."""
    return dir_bytes(table.root), files_bytes(table._files())


# --------------------------------------------------------------------------
# analytic


class Analytic:
    """Heavy read-only registry queries; never touches the lakehouse layer.

    The mix covers a scan-aggregate, a star join, window frames and one
    query across the Arrow/Python boundary.
    """

    name = "analytic"
    # j9_star_multiway, the first choice for the star join, disagrees
    # with its oracle on some seeds (a revenue on a half-cent boundary
    # rounds apart; see README.md), so the mix uses the TPC-H Q10 one
    QUERIES = (
        "q1_pricing_summary",
        "q10_returned_items",
        "w3_frames",
        "x29_random_projection",
    )

    def inputs(self, run):
        self.fx = run.fixtures(run.size["sf"])

    def setup(self, run):
        from dbx_workspace_and_emr_iceberg_spark.registry import all_queries
        from dbx_workspace_and_emr_iceberg_spark.tables import TABLES, load_table

        t0 = time.perf_counter()
        for name in TABLES:
            load_table(run.spark, self.fx, name)
        run.layer("tables.load_s", time.perf_counter() - t0)
        self.spark = run.spark
        queries = all_queries()
        self.fns = {q: queries[q].fn for q in self.QUERIES}
        self.oracles = {q: queries[q].oracle for q in self.QUERIES}
        self.results: dict[str, tuple[list, list]] = {}

    def prepare(self, run, i):
        pass

    def ops(self, run, i):
        for q in _rotate(self.QUERIES, run.seed + i):
            if q not in self.results:
                # first execution of each query collects its result for
                # the oracle check; it runs in a warm-up round
                run.op(q, lambda q=q: self._collect(q), timed=False)
            else:
                run.op(q, lambda q=q: self._noop(run, q))
            run.spark.catalog.clearCache()

    def _collect(self, q):
        df = self.fns[q](self.spark, self.fx)
        self.results[q] = (df.columns, [tuple(r) for r in df.collect()])

    def _noop(self, run, q):
        t0 = time.perf_counter()
        df = self.fns[q](self.spark, self.fx)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        run.layer(f"queries.{q}.build_s", t1 - t0)
        run.layer(f"queries.{q}.s", time.perf_counter() - t1)

    def check(self, run, i):
        pass

    def reset(self, run, i):
        pass

    def finish(self, run):
        """Hash-compare each query's collected result with its oracle;
        every timed op of a wrong query counts as failed."""
        import duckdb

        from sim_compare import vhash
        from dbx_workspace_and_emr_iceberg_spark.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.fx}/{t}.parquet')"
            )
        for q in self.QUERIES:
            cols, rows = self.results.get(q, ([], None))
            if rows is not None and run.inject():
                rows = rows[:-1]
            res = con.execute(self.oracles[q])
            dcols = [c[0] for c in res.description]
            drows = res.fetchall()
            ok = (
                rows is not None
                and sorted(cols) == sorted(dcols)
                and len(rows) == len(drows)
                and vhash(cols, rows) == vhash(dcols, drows)
            )
            if not ok:
                run.fail(run.records(kind=q), f"{q}: result differs from its DuckDB oracle")
        con.close()
        # read-only: nothing is written, so space_amp is 1 by definition
        return 1.0

    def trace_finish(self, run):
        from dbx_workspace_and_emr_iceberg_spark.plans import explain

        for q in self.QUERIES:
            df = self.fns[q](run.spark, self.fx)
            run.layer(f"plans.{q}.exchanges", explain.shuffle_count(df))
            run.layer(f"plans.{q}.python_evals", explain.python_eval_count(df))
            run.layer(f"plans.{q}.codegen_stages", explain.codegen_stage_count(df))


# --------------------------------------------------------------------------
# dml


class DmlPart:
    """SQL MERGE / UPDATE / DELETE on seeded key ranges of a managed table.

    The table is lineitem plus the unique key ``k``, written as 16 files
    clustered on ``k``. Each round runs the three statements and is then
    rolled back to the base snapshot (untimed), so every round starts
    from the same table and its DuckDB replay starts from the same
    parquet.
    """

    TABLE = "li_dml"
    FILES = 16

    def inputs(self, run, li):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE TABLE base AS SELECT *, {KEY_SQL} AS {KEY} FROM read_parquet('{li.path}')"
        )

    def setup(self, run, li):
        from dbx_workspace_and_emr_iceberg_spark.engine import Engine

        self.eng = Engine(run.spark, warehouse=os.path.join(run.work, "wh_dml"))
        self.t = self.eng.create_table(
            self.TABLE,
            li.df.repartitionByRange(self.FILES, KEY).sortWithinPartitions(KEY),
        )
        self.reset_version = self.t.current_version()
        self.keys = li.keys
        self.rows = li.rows
        self.bytes_per_row = files_bytes(self.t._files()) / len(self.keys)
        self.space = []

    def prepare(self, run, i):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        rng = np.random.default_rng([run.seed, i])
        n = len(self.keys)
        s = run.size

        def span(frac):
            width = max(1, int(n * frac))
            a = int(rng.integers(0, n - width))
            return a, a + width - 1

        # MERGE source: existing keys (updated values) + new keys (inserts)
        a, b = span(s["merge_update"])
        upd = self.rows.slice(a, b - a + 1)
        upd = upd.set_column(
            upd.schema.get_field_index("l_quantity"), "l_quantity",
            pc.subtract(51.0, upd["l_quantity"]),
        )
        upd = upd.set_column(
            upd.schema.get_field_index("l_extendedprice"), "l_extendedprice",
            pc.add(upd["l_extendedprice"], 1.0),
        )
        n_ins = max(1, int(n * s["merge_insert"]))
        c = int(rng.integers(0, n - n_ins))
        ins = self.rows.slice(c, n_ins)
        ins = ins.set_column(
            ins.schema.get_field_index(KEY), KEY,
            pc.add(ins[KEY], int(self.keys[-1]) + 1),
        )
        src = pa.concat_tables([upd, ins])
        self.src_path = os.path.join(run.work, "dml_src.parquet")
        pq.write_table(src, self.src_path)
        run.spark.read.parquet(self.src_path).createOrReplaceTempView("dml_src")
        ua, ub = span(s["update"])
        da, db = span(s["delete"])
        k = self.keys
        self.stmts = [
            ("merge",
             f"MERGE INTO {self.TABLE} t USING dml_src s ON t.{KEY} = s.{KEY} "
             "WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity, "
             "l_extendedprice = s.l_extendedprice "
             "WHEN NOT MATCHED THEN INSERT *",
             src.num_rows),
            ("update",
             f"UPDATE {self.TABLE} SET l_quantity = l_quantity + 1, "
             f"l_linestatus = 'U' WHERE {KEY} BETWEEN {k[ua]} AND {k[ub]}",
             ub - ua + 1),
            ("delete",
             f"DELETE FROM {self.TABLE} WHERE {KEY} BETWEEN {k[da]} AND {k[db]}",
             db - da + 1),
        ]

    def ops(self, run, i):
        from dbx_workspace_and_emr_iceberg_spark.sources import sql_dml

        for kind, sql, changed in self.stmts:
            if run.trace:
                t0 = time.perf_counter()
                head = sql_dml.classify(sql)
                {"MERGE": sql_dml.parse_merge, "UPDATE": sql_dml.parse_update,
                 "DELETE": sql_dml.parse_delete}[head](sql)
                run.layer("sql_dml.parse_s", time.perf_counter() - t0)
                parent = self.t._files()
            run.op(kind, lambda sql=sql: self.eng.sql(sql).collect())
            if run.trace:
                _write_metrics(run, self.t, parent, changed, self.bytes_per_row)

    CHECKSUM = (
        "SELECT count(*) AS n, sum({k}) AS sk, sum(l_quantity) AS sq, "
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS se, "
        "sum(CASE WHEN l_linestatus = 'U' THEN 1 ELSE 0 END) AS su FROM {t}"
    )

    def check(self, run, i):
        got = tuple(
            self.eng.sql(self.CHECKSUM.format(k=KEY, t=self.TABLE)).collect()[0]
        )
        con = self.con
        con.execute("CREATE OR REPLACE TABLE d AS SELECT * FROM base")
        src = f"read_parquet('{self.src_path}')"
        con.execute(
            f"UPDATE d SET l_quantity = s.l_quantity, l_extendedprice = "
            f"s.l_extendedprice FROM {src} s WHERE d.{KEY} = s.{KEY}"
        )
        con.execute(
            f"INSERT INTO d SELECT * FROM {src} s "
            f"WHERE s.{KEY} NOT IN (SELECT {KEY} FROM d)"
        )
        for kind, sql, _ in self.stmts[1:]:
            con.execute(sql.replace(self.TABLE, "d", 1))
        want = con.execute(self.CHECKSUM.format(k=KEY, t="d")).fetchone()
        got = tuple(int(x) for x in got)
        want = tuple(int(x) for x in want)
        if run.inject():
            got = (got[0] + 1,) + got[1:]
        if got != want:
            run.fail(run.records(round_index=i), f"dml round {i}: table {got} != DuckDB replay {want}")
        if run.phase == "timed":
            self.space.append(_space(self.t))

    def reset(self, run, i):
        self.reset_version = self.t.rollback_to(self.reset_version)
        self.t.expire_snapshots(keep_last=1)
        self.eng.refresh_view(self.TABLE)

    def finish(self, run):
        self.con.close()


# --------------------------------------------------------------------------
# snapshots


class SnapshotsPart:
    """Reads beside small commits on a table with a history of appends.

    The table starts as ``base_files`` files, then grows by
    ``appends`` small appends of one file each. Key
    ranges never overlap between commits, so each version's rows are a
    known set of key chunks and every read has an exact expected count.
    """

    TABLE = "li_snap"

    def setup(self, run, li):
        from pyspark.sql import functions as F

        from dbx_workspace_and_emr_iceberg_spark.engine import Engine
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
            RestCatalogServer,
            RestLakehouseCatalog,
        )

        s = run.size
        self.li = li.df
        keys = li.keys
        self.key_span = int(keys[-1]) + 1
        # base | appends | reserve for the rounds' inserts
        n = len(keys)
        n_reserve = max(1, int(n * s["insert_frac"])) * s["insert_slices"]
        n_hist = n - n_reserve
        n_base = int(n_hist * s["base_frac"])
        cuts = np.linspace(n_base, n_hist, s["appends"] + 1).astype(int)
        chunks = [keys[:n_base]] + [keys[a:b] for a, b in zip(cuts[:-1], cuts[1:])]
        self.reserve = np.array_split(keys[n_hist:], s["insert_slices"])

        def rows_of(chunk):
            return self.li.filter(F.col(KEY).between(int(chunk[0]), int(chunk[-1])))

        warehouse = os.path.join(run.work, "wh_snap")
        self.eng = Engine(run.spark, warehouse=os.path.join(warehouse, "local", "default"))
        self.t = self.eng.create_table(
            self.TABLE,
            rows_of(chunks[0]).repartitionByRange(s["base_files"], KEY).sortWithinPartitions(KEY),
        )
        #: key chunks of every committed version, in commit order
        self.chunks = [chunks[0]]
        self.version_chunks = {self.t.current_version(): 1}
        for c in chunks[1:]:
            # one sorted file per append: a filtered scan of one parquet
            # file is one partition, so this needs no shuffle
            v = self.t.append(rows_of(c).coalesce(1).sortWithinPartitions(KEY))
            self.chunks.append(c)
            self.version_chunks[v] = len(self.chunks)
        self.eng.refresh_view(self.TABLE)

        self.server = RestCatalogServer(warehouse, catalog="local")
        self.client = RestCatalogClient(self.server.start())
        self.catalog = RestLakehouseCatalog(run.spark, self.client, catalog_name="local")
        run.on_exit(self.server.stop)
        self.space = []

    def expected(self, version, lo, hi) -> int:
        return sum(
            int(np.searchsorted(c, hi, "right") - np.searchsorted(c, lo, "left"))
            for c in self.chunks[: self.version_chunks[version]]
        )

    def prepare(self, run, i):
        from pyspark.sql import functions as F

        s = run.size
        rng = np.random.default_rng([run.seed, i])
        chunk = self.reserve[i % len(self.reserve)]
        shift = self.key_span * (1 + i // len(self.reserve))
        cols = [c for c in self.li.columns if c != KEY]
        (
            self.li.filter(F.col(KEY).between(int(chunk[0]), int(chunk[-1])))
            .select(*cols, (F.col(KEY) + shift).alias(KEY))
            .createOrReplaceTempView("snap_src")
        )
        self.insert_keys = chunk + shift
        self.insert_sql = f"INSERT INTO {self.TABLE} SELECT * FROM snap_src"
        # reads are drawn from the history as it will stand after the insert
        present = np.concatenate(self.chunks + [self.insert_keys])

        def key_range(width):
            a = int(rng.integers(0, len(present)))
            lo = int(present[a])
            return lo, lo + width

        width = int(self.key_span * s["range_frac"])
        self.ranges = [key_range(0 if j % 2 == 0 else width) for j in range(s["reads"])]
        head = self.t.current_version() + 1
        self.as_of = [
            (int(rng.integers(1, head + 1)),) + key_range(width) for _ in range(s["as_of"])
        ]

    def ops(self, run, i):
        t = self.t
        parent = t._files() if run.trace else None
        run.op("insert", lambda: self.eng.sql(self.insert_sql).collect())
        self.chunks.append(self.insert_keys)
        self.version_chunks[t.current_version()] = len(self.chunks)
        if run.trace:
            _write_metrics(run, t, parent, len(self.insert_keys), self._bytes_per_row())

        self.range_counts = []
        for lo, hi in self.ranges:
            if run.trace:
                self._trace_prune(run, lo, hi)
            got = run.op("read_range", lambda lo=lo, hi=hi: t.read_range(KEY, lo, hi).count())
            self.range_counts.append((got, run.last))
        self.as_of_counts = []
        for v, lo, hi in self.as_of:
            if run.trace:
                t0 = time.perf_counter()
                t.read(version=v)
                run.layer("lakehouse.read_version_s", time.perf_counter() - t0)
            sql = (
                f"SELECT count(*) AS n FROM {self.TABLE} VERSION AS OF {v} "
                f"WHERE {KEY} BETWEEN {lo} AND {hi}"
            )
            got = run.op("select_as_of", lambda sql=sql: self.eng.sql(sql).collect()[0][0])
            self.as_of_counts.append((got, run.last))
        self.resolved = []
        for _ in range(run.size["resolves"]):
            self.resolved.append((run.op("resolve", self._resolve), run.last))
        if run.trace:
            body = self.client.load_table("default", self.TABLE)
            run.layer("rest_catalog.load_table_bytes", len(json.dumps(body)))

    def _resolve(self):
        rt = self.catalog.table(f"default.{self.TABLE}")
        return rt.root, rt.current_version()

    def _bytes_per_row(self):
        rows = sum(len(c) for c in self.chunks)
        return files_bytes(self.t._files()) / rows

    def _trace_prune(self, run, lo, hi):
        from pyspark.sql import functions as F

        t = self.t
        t0 = time.perf_counter()
        t.main_head()
        run.layer("lakehouse.main_head_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        files = t.pruned_files(KEY, lo, hi)
        run.layer("lakehouse.pruned_files_s", time.perf_counter() - t0)
        run.layer("lakehouse.files_scanned", len(files))
        hit = (
            t.read_range(KEY, lo, hi).select(F.input_file_name()).distinct().count()
            if files
            else 0
        )
        run.layer("lakehouse.prune_ratio", hit / len(files) if files else 0.0)

    def check(self, run, i):
        from pyspark.sql import functions as F

        t = self.t
        head = t.current_version()
        unpruned = t.read().agg(
            *[
                F.sum(F.when(F.col(KEY).between(lo, hi), 1).otherwise(0)).alias(f"c{j}")
                for j, (lo, hi) in enumerate(self.ranges)
            ]
        ).collect()[0]
        for j, ((lo, hi), (got, rec)) in enumerate(zip(self.ranges, self.range_counts)):
            if got is not None and run.inject():
                got += 1
            want = self.expected(head, lo, hi)
            if got != want or (unpruned[j] or 0) != want:
                run.fail([rec], f"read_range [{lo}, {hi}] @v{head}: pruned {got}, "
                         f"unpruned {unpruned[j]}, expected {want}")
        for (v, lo, hi), (got, rec) in zip(self.as_of, self.as_of_counts):
            want = self.expected(v, lo, hi)
            if got != want:
                run.fail([rec], f"VERSION AS OF {v} [{lo}, {hi}]: {got} != {want}")
        for got, rec in self.resolved:
            if got != (t.root, head):
                run.fail([rec], f"REST resolve gave {got}, expected {(t.root, head)}")
        if run.phase == "timed":
            self.space.append(_space(t))

    def reset(self, run, i):
        pass

    def finish(self, run):
        pass


class Lineitem:
    """lineitem with the unique key ``k``: the rows in key order as a
    pyarrow table, and (after :meth:`load`) a Spark frame over the
    fixture file."""

    def __init__(self, fx):
        import pyarrow.parquet as pq

        self.fx = fx
        self.path = os.path.join(fx, "lineitem.parquet")
        arrow = pq.read_table(self.path)
        keys = fixtures.row_key(arrow["l_orderkey"].to_numpy(), arrow["l_linenumber"].to_numpy())
        order = np.argsort(keys)
        self.keys = keys[order]
        self.rows = arrow.append_column(KEY, [keys]).take(order)

    def load(self, run):
        from pyspark.sql import functions as F

        from dbx_workspace_and_emr_iceberg_spark.tables import load_table

        t0 = time.perf_counter()
        df = load_table(run.spark, self.fx, "lineitem")
        run.layer("tables.load_s", time.perf_counter() - t0)
        self.df = df.withColumn(KEY, F.expr(KEY_SQL))


class Lakehouse:
    """The write path and the metadata path of ``sources.lakehouse``, one
    round over both tables. ``space_amp`` covers both table roots."""

    name = "lakehouse"

    def __init__(self):
        self.dml = DmlPart()
        self.parts = (self.dml, SnapshotsPart())

    def inputs(self, run):
        self.li = Lineitem(run.fixtures(run.size["sf"]))
        self.dml.inputs(run, self.li)

    def setup(self, run):
        self.li.load(run)
        for p in self.parts:
            p.setup(run, self.li)

    def prepare(self, run, i):
        for p in self.parts:
            p.prepare(run, i)

    def ops(self, run, i):
        for p in _rotate(self.parts, run.seed + i):
            p.ops(run, i)

    def check(self, run, i):
        for p in self.parts:
            p.check(run, i)

    def reset(self, run, i):
        for p in self.parts:
            p.reset(run, i)

    def finish(self, run):
        for p in self.parts:
            p.finish(run)
        rounds = zip(*(p.space for p in self.parts))
        return median([sum(t for t, _ in r) / sum(live for _, live in r) for r in rounds])


WORKLOADS = {w.name: w for w in (Analytic, Lakehouse)}
