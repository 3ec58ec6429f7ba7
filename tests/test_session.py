"""Session/catalog surface parity (reference daft/session.py:86,
attach surface :176-404; daft/catalog/__init__.py:80): attach/detach of
catalogs, tables, views and functions; create/drop of namespaces and
temp tables; identifier resolution across catalogs; name listing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture()
def sess(spark):
    from daft_spark.session import Session

    return Session(spark)


def _events(spark, n=100):
    from daft_spark.io.readers import load_table

    return load_table(spark, SF_DIR, "events").limit(n)


def test_reference_api_surface_present():
    """Every reference Session method in scope must exist with a
    callable of the same name (reference daft/session.py:176-404)."""
    from daft_spark.session import Session

    for name in [
        "attach", "attach_catalog", "attach_function", "attach_table",
        "attach_view", "detach_catalog", "detach_function", "detach_table",
        "create_namespace", "create_namespace_if_not_exists",
        "create_table", "create_table_if_not_exists",
        "create_temp_table", "create_temp_view",
        "drop_namespace", "drop_table",
        "get_catalog", "get_table", "has_catalog", "has_namespace",
        "has_table", "list_catalogs", "list_namespaces", "list_tables",
        "read_table", "use", "set_catalog", "set_namespace",
        "current_catalog", "current_namespace", "sql",
    ]:
        assert callable(getattr(Session, name)), name


def test_attach_pydict_catalog_and_resolve(spark, sess):
    from daft_spark.session import Catalog, NotFoundError

    e = _events(spark)
    # NB: the table name must not collide with temp views other tests
    # leave on the shared session — temp views shadow catalog tables
    # (Spark name resolution; asserted in test_attach_detach_view...)
    cat = Catalog.from_pydict({"mem_ev": e, "ns.small": e.limit(10)}, name="mem")
    sess.attach_catalog(cat)
    assert sess.list_catalogs() == ["mem"]
    assert sess.has_catalog("mem")
    # unqualified resolves via current catalog
    assert sess.read_table("mem_ev").count() == 100
    # catalog-qualified
    assert sess.read_table("mem.ns.small").count() == 10
    assert sess.has_table("mem_ev") and not sess.has_table("nope")
    with pytest.raises(NotFoundError):
        sess.get_table("nope")
    sess.detach_catalog("mem")
    assert not sess.has_catalog("mem")


def test_attach_detach_view_and_temp_table(spark, sess):
    e = _events(spark)
    sess.attach_view(e, "ev_view")
    assert "ev_view" in sess.list_tables()
    assert sess.read_table("ev_view").count() == 100
    sess.create_temp_table("ev_tmp", e.limit(7))
    assert sess.get_table("ev_tmp").read().count() == 7
    sess.detach_table("ev_view")
    assert "ev_view" not in sess.list_tables()
    from daft_spark.session import NotFoundError

    with pytest.raises(NotFoundError):
        sess.detach_table("ev_view")


def test_create_temp_table_from_schema(spark, sess):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("x", LongType(), True)])
    t = sess.create_temp_table("empty_t", schema)
    assert t.read().count() == 0
    assert sess.sql("SELECT * FROM empty_t").schema == schema


def test_attach_function_plain_and_decorated(spark, sess):
    e = _events(spark)
    sess.attach_view(e, "fn_ev")
    sess.attach_function(lambda s: (s or "").upper(), "up1")
    out = sess.sql("SELECT up1(event_type) AS u FROM fn_ev LIMIT 5").collect()
    assert all(r["u"] == r["u"].upper() for r in out)

    from daft_spark import udf as dudf

    @dudf.func("string")
    def shout(s: str) -> str:
        return (s or "") + "!"

    sess.attach_function(shout, "shout_fn")
    out = sess.sql("SELECT shout_fn(event_type) AS u FROM fn_ev LIMIT 5").collect()
    assert all(r["u"].endswith("!") for r in out)


def test_attach_dispatch_and_use(spark, sess):
    from daft_spark.session import Catalog, Identifier, Table

    e = _events(spark)
    cat1 = Catalog.from_pydict({"t": e.limit(1)}, name="c1")
    cat2 = Catalog.from_pydict({"t": e.limit(2)}, name="c2")
    sess.attach(cat1)
    sess.attach(cat2)
    sess.attach(e, alias="dispatched_view")  # DataFrame -> view
    sess.attach(Table.from_df("tbl_obj", e.limit(3)))
    assert sess.read_table("dispatched_view").count() == 100
    assert sess.read_table("tbl_obj").count() == 3
    # current-catalog switching changes unqualified resolution
    sess.use("c1")
    assert sess.read_table("t").count() == 1
    sess.use("c2")
    assert sess.read_table("t").count() == 2
    assert sess.current_catalog().name == "c2"
    # namespace joins unqualified names
    memcat = sess.get_catalog("c1")
    memcat.create_table("ns.deep", e.limit(5))
    sess.use("c1.ns")
    assert sess.current_namespace() == Identifier("ns")
    assert sess.read_table("deep").count() == 5


def test_spark_catalog_namespaces_and_tables(spark, sess, tmp_path):
    from daft_spark.session import Catalog

    cat = Catalog.from_spark("spark_catalog", spark)
    sess.attach_catalog(cat, "sc")
    sess.set_catalog("sc")
    ns = "daft_session_test_ns"
    if cat.has_namespace(ns):
        spark.sql(f"DROP NAMESPACE spark_catalog.{ns} CASCADE")
    sess.create_namespace(ns)
    assert sess.has_namespace(ns)
    assert any(str(n) == ns for n in sess.list_namespaces())
    e = _events(spark).select("event_id", "event_type")
    t = sess.create_table(f"{ns}.ev", e)
    assert sess.has_table(f"{ns}.ev")
    assert sess.read_table(f"sc.{ns}.ev").count() == 100
    # write-back through the Table handle
    t.write(e.limit(10), mode="append")
    assert sess.read_table(f"{ns}.ev").count() == 110
    sess.drop_table(f"{ns}.ev")
    assert not sess.has_table(f"{ns}.ev")
    spark.sql(f"DROP NAMESPACE spark_catalog.{ns} CASCADE")


def test_catalog_constructor_gates():
    from daft_spark.session import Catalog

    for ctor in (Catalog.from_glue, Catalog.from_unity, Catalog.from_s3tables,
                 Catalog.from_postgres):
        with pytest.raises(ImportError):
            ctor("x")


def test_iceberg_directory_catalog_roundtrip(spark, tmp_path):
    """Catalog.from_iceberg over a filesystem warehouse: create
    namespace + table (a real Iceberg v2 commit), read/append through
    the Table handle, list/drop — the session surface driving the same
    pure-Python Iceberg machinery the lake_iceberg_* queries verify."""
    import pytest
    from pyspark.sql import functions as F

    from daft_spark.session import Catalog, NotFoundError, Session, Table

    wh = str(tmp_path / "warehouse")
    import os

    os.makedirs(wh)
    cat = Catalog.from_iceberg(wh, name="lake")
    cat.create_namespace("sales")
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    t = cat.create_table("sales.fact", df)
    assert cat.has_table("sales.fact") and cat.has_namespace("sales")
    assert cat.list_tables() == ["sales.fact"]
    assert t.read().count() == 10
    t.write(spark.range(10, 15).select(F.col("id"), (F.col("id") * 2).alias("v")),
            mode="append")
    assert cat.get_table("sales.fact").read().count() == 15
    # the table is a REAL iceberg table: the plain reader sees it
    from daft_spark.io.iceberg import read_iceberg_py

    assert read_iceberg_py(os.path.join(wh, "sales", "fact"), spark).count() == 15
    # Table.from_iceberg binds the same path
    t2 = Table.from_iceberg(os.path.join(wh, "sales", "fact"))
    assert t2.read().count() == 15
    # attach to a session and query via SQL over the attached name
    sess = Session(spark)
    sess.attach_table(t2.read(), alias="fact_att")
    try:
        assert sess.sql("SELECT count(*) AS n FROM fact_att").collect()[0].n == 15
    finally:
        sess.detach_table("fact_att")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_table("sales.fact", df)
    cat.drop_table("sales.fact")
    assert not cat.has_table("sales.fact")
    with pytest.raises(NotFoundError):
        cat.get_table("sales.fact")
    # gates for non-filesystem backings
    with pytest.raises(ImportError, match="pyiceberg"):
        Catalog.from_iceberg(object())


# ---------------------------------------------------------------------------
# Iceberg REST catalog protocol


def test_rest_catalog_protocol_endpoints(spark, tmp_path):
    """Wire-level checks against the in-process server: config
    handshake, spec error envelopes, multipart namespaces with the
    0x1F separator, HEAD existence probes, and the updateTable gate."""
    import json
    import urllib.error
    import urllib.request

    from daft_spark.io.iceberg_rest import IcebergRestCatalogServer

    with IcebergRestCatalogServer(str(tmp_path / "wh")) as srv:
        def get(path):
            with urllib.request.urlopen(srv.uri + path) as r:
                return r.status, json.loads(r.read())

        code, cfg = get("/v1/config")
        assert code == 200 and set(cfg) >= {"defaults", "overrides"}
        # 404 error envelope per the spec
        try:
            urllib.request.urlopen(srv.uri + "/v1/namespaces/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            err = json.loads(e.read())["error"]
            assert e.code == 404 and err["type"] == "NoSuchNamespaceException"
        # multipart namespace via %1F separator
        req = urllib.request.Request(
            srv.uri + "/v1/namespaces",
            data=json.dumps({"namespace": ["a", "b"]}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        assert urllib.request.urlopen(req).status == 200
        code, got = get("/v1/namespaces/a%1Fb")
        assert code == 200 and got["namespace"] == ["a", "b"]
        # HEAD probe
        head = urllib.request.Request(srv.uri + "/v1/namespaces/a%1Fb", method="HEAD")
        assert urllib.request.urlopen(head).status == 204
        # commit protocol: unknown table is 404; an unsupported update
        # action on a real table is 400 (never silently ignored)
        post = urllib.request.Request(
            srv.uri + "/v1/namespaces/a%1Fb/tables/missing",
            data=b"{}", method="POST",
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(post)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404


def test_rest_catalog_client_roundtrip(spark, tmp_path):
    """Catalog.from_iceberg over http://: namespace + table CRUD and a
    read that goes REST loadTable -> metadata-location -> pure-Python
    Iceberg scan."""
    from pyspark.sql import functions as F

    from daft_spark.io.iceberg_rest import IcebergRestCatalogServer
    from daft_spark.session import Catalog, NotFoundError, Session

    with IcebergRestCatalogServer(str(tmp_path / "wh")) as srv:
        cat = Catalog.from_iceberg(srv.uri, name="rc")
        cat.create_namespace("ns")
        df = spark.range(500).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("m")
        )
        cat.create_table("ns.t", df)
        assert cat.list_tables() == ["ns.t"]
        assert cat.has_table("ns.t") and not cat.has_table("ns.x")
        got = cat.read_table("ns.t")
        assert got.count() == 500
        res = cat.load_table_result("ns.t")
        assert res["metadata-location"].endswith(".metadata.json")
        assert res["metadata"]["format-version"] == 2
        # duplicate create -> structured error
        import pytest

        from daft_spark.io.iceberg_rest import RestError

        with pytest.raises(RestError):
            cat.create_table("ns.t", df)
        with pytest.raises(NotFoundError):
            cat.get_table("ns.missing")
        # attach to a Session and resolve through the catalog surface
        sess = Session(spark)
        sess.attach_catalog(cat, "rc")
        assert sess.get_catalog("rc") is cat
        cat.drop_table("ns.t")
        assert not cat.has_table("ns.t")
        cat.drop_namespace("ns")
        assert not cat.has_namespace("ns")


def test_table_schema_evolution_methods(spark, tmp_path):
    """Table.rename_column/add_column/drop_column delegate to the
    Iceberg evolution commit; non-evolvable tables raise."""
    from daft_spark.io.iceberg import write_iceberg_py
    from daft_spark.session import Table

    p = str(tmp_path / "evo_tbl")
    write_iceberg_py(
        spark.createDataFrame([(1, 10.0, "x"), (2, 20.0, "y")], "k long, bal double, seg string"),
        p,
    )
    t = Table.from_iceberg(p)
    t.rename_column("bal", "balance")
    t.add_column("tier", "string")
    t.drop_column("seg")
    out = t.read()
    assert out.columns == ["k", "balance", "tier"]
    rows = {r["k"]: (r["balance"], r["tier"]) for r in out.collect()}
    assert rows == {1: (10.0, None), 2: (20.0, None)}

    plain = Table.from_df("mem", spark.range(1))
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="schema evolution"):
        plain.rename_column("id", "x")


# ---------------------------------------------------------------------------
# Unity Catalog REST (io/unity_rest.py)


def _unity(tmp_path, token=None):
    from daft_spark.io.unity_rest import UnityCatalogServer

    return UnityCatalogServer(str(tmp_path / "uwh"), token=token)


def test_unity_protocol_endpoints(tmp_path):
    import json as _json
    import urllib.request

    with _unity(tmp_path) as srv:
        base = srv.uri + "/api/2.1/unity-catalog"

        def call(method, path, body=None):
            data = None if body is None else _json.dumps(body).encode()
            req = urllib.request.Request(base + path, data=data, method=method)
            if data:
                req.add_header("Content-Type", "application/json")
            with urllib.request.urlopen(req) as r:
                raw = r.read()
                return r.status, (_json.loads(raw) if raw else {})

        # catalog + schema CRUD over the wire
        assert call("POST", "/catalogs", {"name": "main"})[1]["name"] == "main"
        st, schemas = call("GET", "/schemas?catalog_name=main")
        assert st == 200 and schemas["schemas"] == []
        call("POST", "/schemas", {"catalog_name": "main", "name": "s1"})
        call("POST", "/schemas", {"catalog_name": "main", "name": "s2"})
        # pagination: max_results=1 must emit a next_page_token
        st, page1 = call("GET", "/schemas?catalog_name=main&max_results=1")
        assert len(page1["schemas"]) == 1 and page1["next_page_token"]
        st, page2 = call(
            "GET",
            f"/schemas?catalog_name=main&max_results=1&page_token={page1['next_page_token']}",
        )
        names = {page1["schemas"][0]["name"], page2["schemas"][0]["name"]}
        assert names == {"s1", "s2"} and page2["next_page_token"] is None
        # table create returns a managed storage_location + table_id
        st, info = call("POST", "/tables", {
            "catalog_name": "main", "schema_name": "s1", "name": "t",
            "data_source_format": "DELTA",
            "columns": [{"name": "k", "type_text": "bigint", "type_name": "LONG",
                         "position": 0, "nullable": True}],
        })
        assert st == 200 and info["storage_location"].endswith("main/s1/t")
        st, got = call("GET", "/tables/main.s1.t")
        assert got["table_id"] == info["table_id"]
        assert got["columns"][0]["type_name"] == "LONG"
        # temp credentials vend for the table_id
        st, creds = call("POST", "/temporary-table-credentials",
                         {"table_id": info["table_id"], "operation": "READ"})
        assert st == 200 and creds["expiration_time"] > 0
        # 404s use the OSS error shape
        import urllib.error
        with pytest.raises(urllib.error.HTTPError) as e:
            call("GET", "/tables/main.s1.nope")
        assert e.value.code == 404
        body = _json.loads(e.value.read())
        assert body["error_code"] == "TABLE_DOES_NOT_EXIST"


def test_unity_auth_required(tmp_path):
    import urllib.error
    import urllib.request

    with _unity(tmp_path, token="tok") as srv:
        url = srv.uri + "/api/2.1/unity-catalog/catalogs"
        with pytest.raises(urllib.error.HTTPError) as e:
            urllib.request.urlopen(urllib.request.Request(url))
        assert e.value.code == 401
        req = urllib.request.Request(url)
        req.add_header("Authorization", "Bearer tok")
        assert urllib.request.urlopen(req).status == 200
        # client surfaces bad tokens at construction (handshake)
        from daft_spark.io.unity_rest import UnityError, UnityRestCatalog
        with pytest.raises(UnityError):
            UnityRestCatalog(srv.uri, token="wrong")


def test_unity_client_roundtrip(spark, tmp_path):
    from daft_spark.session import Catalog, NotFoundError

    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    with _unity(tmp_path, token="tok") as srv:
        cat = Catalog.from_unity(srv.uri, token="tok")
        cat.create_namespace("main.sales")
        assert cat.has_namespace("main") and cat.has_namespace("main.sales")
        assert not cat.has_namespace("main.nope")
        cat.create_table("main.sales.t", df)
        assert cat.list_tables() == ["main.sales.t"]
        assert cat.list_tables("main.sales") == ["main.sales.t"]
        assert cat.list_tables("main") == ["main.sales.t"]
        back = cat.read_table("main.sales.t")
        assert back.count() == 20
        assert {r["g"] for r in back.collect()} == {0, 1, 2}
        # write-through handle appends a Delta commit
        t = cat.get_table("main.sales.t")
        t.write(df.withColumn("k", F.col("k") + 100), mode="append")
        assert cat.read_table("main.sales.t").count() == 40
        # external table binds the provided location
        ext_loc = str(tmp_path / "ext_t")
        cat.create_table("main.sales.ext", df, table_type="EXTERNAL",
                         storage_location=ext_loc)
        assert cat.table_info("main.sales.ext")["storage_location"] == ext_loc
        assert cat.read_table("main.sales.ext").count() == 20
        cat.drop_table("main.sales.ext")
        assert not cat.has_table("main.sales.ext")
        with pytest.raises(NotFoundError):
            cat.get_table("main.sales.ext")
        # identifier shape errors
        with pytest.raises(ValueError):
            cat.create_table("two.parts", df)


# ---------------------------------------------------------------------------
# Glue Data Catalog (io/glue_rest.py) — real botocore client + SigV4 verify


def _glue(tmp_path):
    from daft_spark.io.glue_rest import GlueCatalogServer

    return GlueCatalogServer(str(tmp_path / "gwh"), access_key="ak", secret_key="sk")


def _glue_cat(srv, name="gluecat"):
    from daft_spark.session import Catalog

    return Catalog.from_glue(
        name, endpoint_url=srv.uri, region_name="us-east-1",
        aws_access_key_id=srv.access_key, aws_secret_access_key=srv.secret_key,
    )


def test_glue_sigv4_enforced(tmp_path):
    import botocore.session

    with _glue(tmp_path) as srv:
        bad = botocore.session.get_session().create_client(
            "glue", region_name="us-east-1", endpoint_url=srv.uri,
            aws_access_key_id="ak", aws_secret_access_key="WRONG",
        )
        import botocore.exceptions

        with pytest.raises(botocore.exceptions.ClientError) as e:
            bad.get_databases()
        assert "AccessDenied" in str(e.value)
        # wrong access key id is rejected too
        bad2 = botocore.session.get_session().create_client(
            "glue", region_name="us-east-1", endpoint_url=srv.uri,
            aws_access_key_id="nobody", aws_secret_access_key="sk",
        )
        with pytest.raises(botocore.exceptions.ClientError):
            bad2.get_databases()
        # the real signature verifies
        good = botocore.session.get_session().create_client(
            "glue", region_name="us-east-1", endpoint_url=srv.uri,
            aws_access_key_id="ak", aws_secret_access_key="sk",
        )
        assert good.get_databases()["DatabaseList"] == []


def test_glue_protocol_pagination_and_errors(tmp_path):
    with _glue(tmp_path) as srv:
        cat = _glue_cat(srv)
        client = cat._client
        for n in ("db_a", "db_b", "db_c"):
            client.create_database(DatabaseInput={"Name": n})
        page1 = client.get_databases(MaxResults=2)
        assert len(page1["DatabaseList"]) == 2 and page1["NextToken"]
        page2 = client.get_databases(MaxResults=2, NextToken=page1["NextToken"])
        assert len(page2["DatabaseList"]) == 1 and "NextToken" not in page2
        with pytest.raises(client.exceptions.EntityNotFoundException):
            client.get_table(DatabaseName="db_a", Name="missing")
        with pytest.raises(client.exceptions.AlreadyExistsException):
            client.create_database(DatabaseInput={"Name": "db_a"})
        # databases get a warehouse-derived LocationUri
        assert client.get_database(Name="db_a")["Database"]["LocationUri"]


def test_glue_catalog_iceberg_parquet_csv_roundtrip(spark, tmp_path):
    from daft_spark.session import NotFoundError

    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    with _glue(tmp_path) as srv:
        cat = _glue_cat(srv)
        cat.create_namespace("sales")
        assert cat.has_namespace("sales") and not cat.has_namespace("nope")
        cat.create_table("sales.ice", df)  # iceberg by default
        cat.create_table("sales.pq", df, format="parquet")
        cat.create_table("sales.cs", df, format="csv")
        assert cat.list_tables() == ["sales.cs", "sales.ice", "sales.pq"]
        for t in ("sales.ice", "sales.pq", "sales.cs"):
            back = cat.read_table(t)
            assert back.count() == 12, t
            assert {r["g"] for r in back.collect()} == {"0", "1", "2"}, t
        # iceberg handle supports append through the Table surface
        tbl = cat.get_table("sales.ice")
        tbl.write(df.withColumn("k", F.col("k") + 100), mode="append")
        assert cat.read_table("sales.ice").count() == 24
        # glue metadata dispatch: unknown classification is rejected
        cat._client.create_table(
            DatabaseName="sales",
            TableInput={"Name": "weird", "Parameters": {"classification": "orc"},
                        "StorageDescriptor": {"Location": "/tmp/x", "Columns": []}},
        )
        with pytest.raises(NotImplementedError, match="classification"):
            cat.get_table("sales.weird")
        cat.drop_table("sales.cs")
        assert not cat.has_table("sales.cs")
        with pytest.raises(NotFoundError):
            cat.get_table("sales.cs")


# ---------------------------------------------------------------------------
# S3 Tables (io/s3tables_rest.py) — real botocore REST-JSON client


def _s3t(tmp_path):
    from daft_spark.io.s3tables_rest import S3TablesCatalogServer

    return S3TablesCatalogServer(str(tmp_path / "s3wh"))


def _s3t_cat(srv):
    from daft_spark.session import Catalog

    return Catalog.from_s3tables(
        srv.bucket_arn, endpoint_url=srv.uri,
        aws_access_key_id=srv.access_key, aws_secret_access_key=srv.secret_key,
    )


def test_s3tables_roundtrip_and_version_token_cas(spark, tmp_path):
    from daft_spark.session import NotFoundError

    df = spark.range(15).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g")
    )
    with _s3t(tmp_path) as srv:
        cat = _s3t_cat(srv)
        cat.create_namespace("analytics")
        assert cat.has_namespace("analytics") and not cat.has_namespace("nope")
        cat.create_table("analytics.events", df)
        assert cat.list_tables() == ["analytics.events"]
        assert cat.list_tables("analytics") == ["analytics.events"]
        back = cat.read_table("analytics.events")
        assert back.count() == 15
        assert {r["g"] for r in back.collect()} == {0, 1, 2}
        # version-token compare-and-swap: a stale token is a 409
        import botocore.exceptions

        info = cat._info("analytics.events")
        with pytest.raises(botocore.exceptions.ClientError) as e:
            cat._client.update_table_metadata_location(
                tableBucketARN=srv.bucket_arn, namespace="analytics",
                name="events", versionToken="stale-token",
                metadataLocation=info["metadataLocation"],
            )
        assert e.value.response["Error"]["Code"] == "ConflictException"
        # GET querystring requests pass SigV4 (canonical-query sorting)
        assert cat.has_table("analytics.events")
        cat.drop_table("analytics.events")
        with pytest.raises(NotFoundError):
            cat.get_table("analytics.events")
        # signature enforcement on this service too
        from daft_spark.session import Catalog

        bad = Catalog.from_s3tables(
            srv.bucket_arn, endpoint_url=srv.uri,
            aws_access_key_id=srv.access_key, aws_secret_access_key="WRONG",
        )
        with pytest.raises(botocore.exceptions.ClientError) as e2:
            bad.list_namespaces()
        assert "AccessDenied" in str(e2.value)


def test_s3tables_pagination_and_dotted_namespaces(spark, tmp_path):
    df = spark.range(3).select(F.col("id").alias("k"))
    with _s3t(tmp_path) as srv:
        cat = _s3t_cat(srv)
        for ns in ("a.b", "a.c", "z"):
            cat.create_namespace(ns)
        assert [str(n) for n in cat.list_namespaces()] == ["a.b", "a.c", "z"]
        assert [str(n) for n in cat.list_namespaces("a.")] == ["a.b", "a.c"]
        cat.create_table("a.b.t1", df)
        cat.create_table("a.b.t2", df)
        # reference pattern semantics: the LAST part is a table prefix
        # (daft/catalog/__s3tables.py _list_tables)
        assert cat.list_tables() == ["a.b.t1", "a.b.t2"]
        assert cat.list_tables("a.b.t") == ["a.b.t1", "a.b.t2"]
        assert cat.list_tables("a.b.t2") == ["a.b.t2"]
        assert cat.read_table("a.b.t2").count() == 3


def test_rest_catalog_commit_protocol(spark, tmp_path):
    """updateTable: appends route through requirements+updates; a stale
    assert-ref-snapshot-id is a 409 CommitFailedException."""
    from daft_spark.io.iceberg import _latest_metadata
    from daft_spark.io.iceberg_rest import IcebergRestCatalogServer, RestError
    from daft_spark.session import Catalog

    df = spark.range(10).select(F.col("id").alias("k"))
    with IcebergRestCatalogServer(str(tmp_path / "wh")) as srv:
        cat = Catalog.from_iceberg(srv.uri)
        cat.create_namespace("ns")
        cat.create_table("ns.t", df)
        t = cat.get_table("ns.t")
        t.write(df.withColumn("k", F.col("k") + 100), mode="append")
        got = sorted(r["k"] for r in cat.read_table("ns.t").collect())
        assert got == list(range(10)) + [k + 100 for k in range(10)]
        # the commit went through the catalog: two snapshots, log grew
        tpath = srv._httpd.catalog._path("ns.t")
        meta = _latest_metadata(tpath)
        assert len(meta["snapshots"]) == 2
        assert meta["current-snapshot-id"] == meta["snapshots"][-1]["snapshot-id"]
        # stale requirement -> 409 (concurrent-commit arbitration)
        with pytest.raises(RestError, match="CommitFailedException"):
            cat.commit_table(
                "ns.t",
                requirements=[{
                    "type": "assert-ref-snapshot-id", "ref": "main",
                    "snapshot-id": 12345,
                }],
                updates=[],
            )
        # non-append writes stay gated on the REST handle
        with pytest.raises(ValueError, match="append"):
            t.write(df, mode="overwrite")
        # unsupported requirement types are rejected, not ignored
        with pytest.raises(RestError, match="unsupported requirement"):
            cat.commit_table(
                "ns.t",
                requirements=[{"type": "assert-last-assigned-field-id", "id": 1}],
                updates=[],
            )


def test_paimon_directory_catalog_roundtrip(spark, tmp_path):
    """Catalog.from_paimon over a filesystem warehouse (pypaimon's
    <wh>/<db>.db/<table> layout, reference daft/catalog/__paimon.py:
    202-238): create namespace + primary-key table, read/upsert through
    the Table handle, introspection properties, list/drop."""
    import pytest

    from daft_spark.session import Catalog, NotFoundError, Table

    wh = str(tmp_path / "pwh")
    (tmp_path / "pwh").mkdir()
    cat = Catalog.from_paimon(wh, name="pm")
    cat.create_namespace("tpch")
    assert cat.has_namespace("tpch") and not cat.has_namespace("nope")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_namespace("tpch")
    df = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id int, s string, v int")
    t = cat.create_table("tpch.items", df, primary_key=["id"])
    assert cat.list_tables() == ["tpch.items"]
    assert cat.list_namespaces() == [cat.list_namespaces()[0]]  # one db
    assert t.primary_keys == ["id"] and t.is_primary_key_table
    assert t.partition_keys == [] and t.bucket_count == -1
    # merge-on-read upsert via append on a pk table
    t.write(
        spark.createDataFrame([(2, "B", 99), (3, "c", 30)], "id int, s string, v int"),
        "append",
    )
    got = {(r.id, r.s, r.v) for r in cat.read_table("tpch.items").collect()}
    assert got == {(1, "a", 10), (2, "B", 99), (3, "c", 30)}
    # 3-part identifier strips the catalog prefix (reference :322)
    assert cat.has_table("pm.tpch.items")
    # Table.from_paimon binds a bare table path
    direct = Table.from_paimon(f"{wh}/tpch.db/items")
    assert direct.read().count() == 3
    with pytest.raises(ImportError):
        Table.from_paimon("/nonexistent/path")
    cat.drop_table("tpch.items")
    with pytest.raises(NotFoundError):
        cat.get_table("tpch.items")
    cat.drop_namespace("tpch")
    assert cat.list_namespaces() == []


def test_postgres_dbapi_catalog_roundtrip(spark, tmp_path):
    """Catalog.from_postgres over a DB-API connection factory: the
    reference's statement surface (CREATE SCHEMA/TABLE DDL,
    information_schema existence/listing/columns, SELECT * reads,
    sequential append — daft/catalog/__postgres.py:176-706) executed
    verbatim against DuckDB's Postgres-dialect front end."""
    import duckdb
    import pytest

    from daft_spark.session import Catalog, NotFoundError

    db = str(tmp_path / "pg.duckdb")
    cat = Catalog.from_postgres(connect=lambda: duckdb.connect(db), name="pg")
    cat.create_namespace("sales")
    assert cat.has_namespace("sales") and not cat.has_namespace("nope")
    with pytest.raises(ValueError, match="already exists"):
        cat.create_namespace("sales")
    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", 2.5, False)],
        "id int, s string, v double, f boolean",
    )
    t = cat.create_table("sales.items", df)
    assert cat.list_tables("items") == ["sales.items"]
    assert cat.has_table("sales.items")
    # schema comes from information_schema.columns, not inference
    struct = cat.table_schema("sales.items")
    assert [f.name for f in struct.fields] == ["id", "s", "v", "f"]
    assert struct.fields[0].dataType.simpleString() == "int"
    assert struct.fields[2].dataType.simpleString() == "double"
    back = {(r.id, r.s, r.v, r.f) for r in t.read().collect()}
    assert back == {(1, "a", 1.5, True), (2, "b", 2.5, False)}
    # append then overwrite (drop + recreate + append, reference :692)
    t.write(
        spark.createDataFrame([(3, "c", 3.5, True)], "id int, s string, v double, f boolean"),
        "append",
    )
    assert cat.read_table("sales.items").count() == 3
    t.write(df.limit(1), "overwrite")
    assert cat.read_table("sales.items").count() == 1
    cat.drop_table("sales.items")
    with pytest.raises(NotFoundError):
        cat.drop_table("sales.items")
    # quoted-identifier safety: a table name with an embedded quote
    cat.create_table('sales.we"ird', df.select("id"))
    assert cat.has_table('sales.we"ird')
    assert cat.read_table('sales.we"ird').count() == 2
    # connection-string route still needs psycopg
    with pytest.raises(ImportError, match="psycopg"):
        Catalog.from_postgres("postgresql://u@h/db")


def test_gravitino_rest_catalog(spark, tmp_path):
    """Gravitino REST protocol end-to-end: metalake routes, identifier
    listing shape, storageLocations + default-location-name resolution,
    file:/ URL repair, ICEBERG/PARQUET format dispatch, simple +
    oauth2 auth, read-only adapter parity (reference
    daft/catalog/__gravitino/_client.py, _catalog.py)."""
    import pytest

    from daft_spark.io.gravitino_rest import GravitinoServer
    from daft_spark.io.iceberg import write_iceberg_py
    from daft_spark.session import Catalog, NotFoundError

    root = str(tmp_path / "ml")
    df = spark.createDataFrame([(1, "FRANCE"), (2, "GERMANY")], "k int, n string")
    ice = f"{root}/lake/tpch/nation_ice"
    (tmp_path / "ml" / "lake" / "tpch").mkdir(parents=True)
    write_iceberg_py(df, ice, mode="error")
    df.write.parquet(f"{root}/lake/tpch/raw_pq")
    with GravitinoServer(root, "ml1", username="admin") as srv:
        cat = Catalog.from_gravitino(srv.uri, "ml1", username="admin")
        assert cat.name == "gravitino_ml1"
        assert cat.list_catalogs() == ["lake"]
        assert [str(n) for n in cat.list_namespaces()] == ["lake.tpch"]
        assert cat.list_tables("lake.tpch") == [
            "lake.tpch.nation_ice", "lake.tpch.raw_pq",
        ]
        assert cat.has_namespace("lake.tpch") and not cat.has_namespace("lake.x")
        # iceberg dispatch reads through the pure-python scan
        t = cat.get_table("lake.tpch.nation_ice")
        assert {r.n for r in t.read().collect()} == {"FRANCE", "GERMANY"}
        # parquet dispatch
        assert cat.get_table("lake.tpch.raw_pq").read().count() == 2
        # fileset route resolves storageLocations with file:/ repair
        fs = cat.load_fileset("lake.tpch.raw_pq")
        assert fs["storage_location"].startswith("file:///")
        with pytest.raises(NotFoundError):
            cat.get_table("lake.tpch.missing")
        assert not cat.has_table("lake.tpch.missing")
        # read-only adapter (reference _catalog.py:55-74)
        with pytest.raises(NotImplementedError):
            cat.create_table("lake.tpch.new", df)
        # simple auth is enforced
        bad = Catalog.from_gravitino(srv.uri, "ml1", username="other")
        with pytest.raises(Exception, match="401"):
            bad.list_catalogs()
    # oauth2 bearer
    with GravitinoServer(root, "ml1", token="tok123") as srv:
        ok = Catalog.from_gravitino(
            srv.uri, "ml1", auth_type="oauth2", token="tok123"
        )
        assert ok.list_catalogs() == ["lake"]
        no = Catalog.from_gravitino(srv.uri, "ml1", auth_type="oauth2", token="bad")
        with pytest.raises(Exception, match="401"):
            no.list_catalogs()


def test_rest_catalog_commit_conflict_retry(spark, tmp_path):
    """Two writers staged against the SAME parent snapshot: the second
    commit 409s and the client's refresh-and-rebase retry loop (the
    behavior real Iceberg REST clients implement) lands it on the moved
    head — no lost update, both appends readable, the rebased snapshot
    carrying the head's manifests plus its own. Then two genuinely
    concurrent threaded writers both eventually commit."""
    import threading

    from daft_spark.io.iceberg import _latest_metadata, _stage_write
    from daft_spark.io.iceberg_rest import IcebergRestCatalogServer
    from daft_spark.session import Catalog

    base = spark.range(5).select(F.col("id").alias("k"))
    with IcebergRestCatalogServer(str(tmp_path / "wh")) as srv:
        cat = Catalog.from_iceberg(srv.uri)
        cat.create_namespace("ns")
        cat.create_table("ns.t", base)
        tpath = srv._httpd.catalog._path("ns.t")
        s1 = _stage_write(
            spark.range(100, 105).select(F.col("id").alias("k")),
            tpath, cat._load("ns.t"), "append",
        )
        s2 = _stage_write(
            spark.range(200, 205).select(F.col("id").alias("k")),
            tpath, cat._load("ns.t"), "append",
        )
        assert (
            s1.base["current-snapshot-id"] == s2.base["current-snapshot-id"]
        )
        cat._commit_append("ns.t", s1)
        # stale parent -> 409 -> refresh, rebase, retry
        cat._commit_append("ns.t", s2)
        got = sorted(r["k"] for r in cat.read_table("ns.t").collect())
        assert got == (
            list(range(5)) + list(range(100, 105)) + list(range(200, 205))
        )
        meta = _latest_metadata(tpath)
        assert len(meta["snapshots"]) == 3
        seqs = [s["sequence-number"] for s in meta["snapshots"]]
        assert seqs == sorted(set(seqs)), "sequence numbers must not collide"

        errs = []

        def writer(lo):
            try:
                c2 = Catalog.from_iceberg(srv.uri)
                c2.get_table("ns.t").write(
                    spark.range(lo, lo + 3).select(F.col("id").alias("k")),
                    mode="append",
                )
            except Exception as e:  # pragma: no cover - assertion below
                errs.append(e)

        ts = [threading.Thread(target=writer, args=(lo,)) for lo in (300, 400)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        got = sorted(r["k"] for r in cat.read_table("ns.t").collect())
        assert got == (
            list(range(5)) + list(range(100, 105)) + list(range(200, 205))
            + list(range(300, 303)) + list(range(400, 403))
        )


def test_postgres_catalog_error_mapping_and_schema_resolution(spark, tmp_path):
    """ADVICE r7: drop_namespace wraps raw DB-API errors in ValueError
    (the reference's psycopg->ValueError mapping), and a 1-part
    table_schema lookup resolves ONE effective schema instead of
    interleaving same-named tables from several schemas."""
    import duckdb
    import pytest

    from daft_spark.session import Catalog

    db = str(tmp_path / "pg2.duckdb")
    cat = Catalog.from_postgres(connect=lambda: duckdb.connect(db), name="pg")
    # missing schema -> ValueError, not a backend exception type
    with pytest.raises(ValueError, match="Failed to drop schema"):
        cat.drop_namespace("ghost")
    # non-empty schema -> ValueError too
    cat.create_namespace("full")
    cat.create_table("full.t", spark.createDataFrame([(1,)], "id int"))
    with pytest.raises(ValueError, match="Failed to drop schema"):
        cat.drop_namespace("full")
    # same-named tables in two schemas: 1-part lookup must pick one
    # schema's columns, never interleave both
    cat.create_namespace("aaa")
    cat.create_namespace("bbb")
    cat.create_table("aaa.dup", spark.createDataFrame([(1,)], "id int"))
    cat.create_table(
        "bbb.dup", spark.createDataFrame([("x", "y")], "s string, t string")
    )
    struct = cat.table_schema("dup")
    assert [f.name for f in struct.fields] == ["id"]


def test_gravitino_nonraising_has_namespace_and_path_safety(spark, tmp_path):
    """ADVICE r7: has_namespace/list_namespaces on a missing catalog
    return False/[] (the reference's non-raising has_* contract), and
    the in-process server rejects path-traversal segments instead of
    serving files outside the metalake root."""
    import urllib.error
    import urllib.request

    import pytest

    from daft_spark.io.gravitino_rest import GravitinoServer
    from daft_spark.session import Catalog

    root = str(tmp_path / "ml")
    (tmp_path / "ml" / "lake" / "tpch").mkdir(parents=True)
    # a file OUTSIDE the metalake root that traversal must not reach
    (tmp_path / "secret").mkdir()
    (tmp_path / "secret" / "x.txt").write_text("leak")
    with GravitinoServer(root, "ml1", username="admin") as srv:
        cat = Catalog.from_gravitino(srv.uri, "ml1", username="admin")
        with pytest.warns(UserWarning, match="failed to list schemas"):
            assert not cat.has_namespace("nocat.s")
        with pytest.warns(UserWarning, match="failed to list schemas"):
            assert cat.list_namespaces("nocat") == []
        # traversal segments are rejected with 400 before touching disk
        for evil in ("%2e%2e", "..%2fsecret", "a%2fb"):
            req = urllib.request.Request(
                f"{srv.uri}/api/metalakes/ml1/catalogs/{evil}/schemas",
                headers={"X-Gravitino-User": "admin"},
            )
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(req)
            assert ei.value.code == 400
