"""User-facing engine facade (SURVEY.md §3.4 entry points).

A user of the reference deployment interacts through three doors:
``spark-sql`` (SQL strings), the DataFrame API, and catalog-managed
tables (README.md:35-51). This facade packages the same three doors
over this engine:

    eng = Engine.local(warehouse="/tmp/wh")
    eng.register_fixtures("/root/testdata/sf0.01")       # temp views
    eng.sql("SELECT count(*) FROM lineitem").show()       # door 1
    eng.table("orders").filter(...).groupBy(...)          # door 2
    t = eng.create_table("events_gold", df)               # door 3
    t.merge_into(...); eng.table_snapshot("events_gold", version=1)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import get_spark
from .sources import sql_dml
from .sources.lakehouse import LakehouseTable
from .tables import TABLES, load_table, register_temp_views


class Engine:
    """SQL + DataFrame + managed-table surface over one SparkSession."""

    def __init__(self, spark: SparkSession, warehouse: str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        self._tables: dict[str, LakehouseTable] = {}
        # time-travel temp views registered by the current statement's
        # rewrite; dropped after execution (sql_dml.execute)
        self._tt_views: set[str] = set()

    @classmethod
    def local(
        cls, warehouse: str | None = None, cpus: int | None = None
    ) -> "Engine":
        return cls(get_spark(cpus=cpus), warehouse=warehouse)

    # ---- door 1: SQL (SELECT via Spark SQL; DML via the lakehouse layer) ----
    def sql(self, query: str) -> DataFrame:
        """Run a SQL string. The session's parser reads it once; MERGE
        INTO / UPDATE / DELETE, INSERT, CREATE TABLE AS, ALTER TABLE and
        CALL on managed tables — the reference's signature spark-sql UX
        (README.md:35-45) — run on the snapshot layer
        (sources/sql_dml.py); everything else runs in Spark SQL, with
        VERSION/TIMESTAMP AS OF resolved through the snapshot layer."""
        return sql_dml.execute(self, query)

    # ---- door 2: DataFrame over fixtures / views ----
    def register_fixtures(self, sf_dir: str) -> None:
        register_temp_views(self.spark, sf_dir)

    def table(self, name: str, sf_dir: str | None = None) -> DataFrame:
        """A fixture table (when sf_dir given), a managed lakehouse
        table of the warehouse at main's head, else a session view."""
        if sf_dir is not None and name in TABLES:
            return load_table(self.spark, sf_dir, name)
        try:
            t = self.managed(name)
        except (KeyError, ValueError):
            return self.spark.table(name)
        return t.read()

    # ---- door 3: managed snapshot tables ----
    def _require_warehouse(self) -> str:
        if not self.warehouse:
            raise ValueError("Engine needs a warehouse dir for managed tables")
        return self.warehouse

    def create_table(self, name: str, df: DataFrame) -> LakehouseTable:
        """Create the managed table ``name`` from ``df``. It registers no
        view: a SQL-door statement binds the table when it reads it."""
        t = LakehouseTable(self.spark, self._require_warehouse(), name)
        t.create(df)
        self._tables[name] = t
        return t

    def managed(self, name: str) -> LakehouseTable:
        if name not in self._tables:
            t = LakehouseTable(self.spark, self._require_warehouse(), name)
            if t.current_version() == 0:
                raise KeyError(f"no managed table {name!r}")
            self._tables[name] = t
        return self._tables[name]

    def refresh_view(self, name: str) -> None:
        """Bind the session temp view ``name`` to the managed table's
        main head. The SQL door calls this for each managed table a
        statement reads, just before the statement is analyzed
        (``sql_dml._bind``), so door reads always see the current
        snapshot. A temp view holds the file list it was bound with:
        Spark SQL run outside the door reads that list until the next
        door statement that names the table."""
        self.managed(name).read().createOrReplaceTempView(name)

    def table_snapshot(self, name: str, version: int) -> DataFrame:
        return self.managed(name).read(version=version)
