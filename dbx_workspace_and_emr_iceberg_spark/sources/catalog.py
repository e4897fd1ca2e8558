"""3-level catalog namespace over the snapshot table layer (SURVEY §1).

The reference's data model is ``catalog.schema.table`` resolved through
Unity Catalog's Iceberg REST endpoint (main.tf:698-723, README.md:37-45);
``spark.sql.defaultCatalog`` (main.tf:802) makes bare names resolve
there. This module provides the same namespace semantics over
:class:`~.lakehouse.LakehouseTable`: a warehouse root holds
``<catalog>/<schema>/<table>`` directories, names resolve with a
configurable default catalog/schema, and listing walks the directory
tree exactly like ``SHOW SCHEMAS`` / ``SHOW TABLES``.

Real-Iceberg parity is the usual config swap: with the runtime jar the
same names go through ``spark.table("cat.db.t")`` against the REST
catalog (`iceberg_rest_catalog_conf`) and this module is bypassed.
Without the jar, the SAME conf keys still get a real wire path:
:func:`catalog_for_session` inspects ``spark.sql.catalog.<cat>.type``
and routes resolution through :class:`~.rest_catalog.RestCatalogClient`
(HTTP + OAuth2 against any Iceberg-REST-shaped endpoint, e.g. the
in-process :class:`~.rest_catalog.RestCatalogServer`) when
``type=rest``, so a REST-typed catalog conf always speaks HTTP.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .lakehouse import LakehouseTable, log_head


class LakehouseCatalog:
    """Name resolution + lifecycle for ``catalog.schema.table`` ids."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        default_catalog: str = "local",
        default_schema: str = "default",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.default_catalog = default_catalog
        self.default_schema = default_schema

    def _resolve(self, name: str) -> tuple[str, str, str]:
        """1-, 2-, or 3-part name -> (catalog, schema, table), filling
        the missing levels from the defaults — `spark.sql.defaultCatalog`
        semantics."""
        parts = name.split(".")
        if not all(parts):
            # 'nation.' / 'a..b' / '': os.path.join silently DROPS the
            # empty component, so a typo'd identifier resolved to a
            # path colliding with the schema directory — exists() then
            # answered for the wrong dir and drop_table rmtree'd it
            raise ValueError(f"invalid table identifier {name!r} (empty part)")
        if len(parts) == 1:
            return self.default_catalog, self.default_schema, parts[0]
        if len(parts) == 2:
            return self.default_catalog, parts[0], parts[1]
        if len(parts) == 3:
            return parts[0], parts[1], parts[2]
        raise ValueError(f"invalid table identifier {name!r} (max 3 parts)")

    def table(self, name: str) -> LakehouseTable:
        cat, sch, tbl = self._resolve(name)
        return LakehouseTable(
            self.spark, os.path.join(self.warehouse, cat, sch), tbl
        )

    def exists(self, name: str) -> bool:
        return self.table(name).current_version() > 0

    def create_table(self, name: str, df) -> LakehouseTable:
        t = self.table(name)
        t.create(df)
        return t

    def drop_table(self, name: str) -> None:
        import shutil

        t = self.table(name)
        if t.current_version() == 0:
            raise ValueError(f"table {name!r} does not exist")
        shutil.rmtree(t.root)

    def list_schemas(self, catalog: str | None = None) -> list[str]:
        root = os.path.join(self.warehouse, catalog or self.default_catalog)
        if not os.path.isdir(root):
            return []
        return sorted(
            d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        )

    def list_tables(
        self, schema: str | None = None, catalog: str | None = None
    ) -> list[str]:
        root = os.path.join(
            self.warehouse,
            catalog or self.default_catalog,
            schema or self.default_schema,
        )
        if not os.path.isdir(root):
            return []
        return [
            d for d in sorted(os.listdir(root)) if log_head(os.path.join(root, d))
        ]


def catalog_for_session(
    spark: SparkSession,
    warehouse: str | None = None,
    catalog: str | None = None,
    default_schema: str = "default",
):
    """Resolution router keyed off the session's catalog conf — the
    same decision the Iceberg runtime makes from
    ``spark.sql.catalog.<cat>.type`` (main.tf:794-806).

    ``type=rest`` (+ ``.uri``): every lookup goes over HTTP through
    :class:`~.rest_catalog.RestCatalogClient` — OAuth2 token exchange
    included when ``.credential`` is set.  Anything else (``hadoop``,
    unset): directory-backed :class:`LakehouseCatalog`, which then
    needs an explicit ``warehouse``.
    """

    def get(k: str) -> str | None:
        try:
            return spark.conf.get(k)
        except Exception:
            return None

    cat = catalog or get("spark.sql.defaultCatalog") or "local"
    if get(f"spark.sql.catalog.{cat}.type") == "rest":
        from .rest_catalog import RestCatalogClient, RestLakehouseCatalog

        client = RestCatalogClient.from_session_conf(spark, cat)
        return RestLakehouseCatalog(
            spark, client, default_schema, catalog_name=cat
        )
    wh = warehouse or get(f"spark.sql.catalog.{cat}.warehouse")
    if not wh:
        raise ValueError(
            f"catalog {cat!r}: no warehouse conf and none passed — set "
            f"spark.sql.catalog.{cat}.warehouse or pass warehouse="
        )
    return LakehouseCatalog(spark, wh, cat, default_schema)
