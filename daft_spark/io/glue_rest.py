"""AWS Glue Data Catalog — protocol server + Catalog adapter driven by
the REAL AWS SDK core (botocore).

The reference's ``Catalog.from_glue`` wraps a boto3/botocore Glue
client (``daft/catalog/__glue.py:83,118``) and dispatches tables on
their Glue metadata: ``Parameters.table_type == "ICEBERG"`` reads the
``metadata_location`` as an Iceberg table, ``Parameters.classification
in ("parquet", "csv")`` reads ``StorageDescriptor.Location`` with the
``StorageDescriptor.Columns`` schema (``__glue.py:186-205,300-470``).
This module reproduces that protocol end-to-end without AWS:

- ``GlueCatalogServer`` — an in-process HTTP server speaking the Glue
  service's actual wire protocol (AWS JSON 1.1: ``X-Amz-Target:
  AWSGlue.<Op>`` POSTs, ``__type`` error envelopes with HTTP 400) over
  a filesystem warehouse. Every request's **SigV4 signature is
  verified** — recomputed from the canonical request with the shared
  secret per the public Signature Version 4 spec — so the auth path is
  exercised, not skipped; the client side of the signature comes from
  botocore itself (the same signer AWS SDKs use), making the
  verification a genuine two-implementation cross-check.
- ``GlueRestCatalog`` — a Catalog over a botocore Glue client
  (``Catalog.from_glue(name, session=..., endpoint_url=...)`` mirrors
  the reference's ``from_session``). Namespaces are Glue databases
  (with ``LocationUri``, which managed table locations derive from,
  as Glue engines do); tables dispatch exactly like the reference:
  ICEBERG via the pure-Python Iceberg reader at ``metadata_location``,
  parquet/csv via Spark scans at ``StorageDescriptor.Location`` with
  the Glue (hive-style) column types.
"""

from __future__ import annotations

import hashlib
import hmac
import json
import os
import threading
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from daft_spark.session import Catalog, Identifier, NotFoundError, Table, _ident

# ---------------------------------------------------------------------------
# SigV4 verification (public spec: AWS Signature Version 4 signing process)


def _sigv4_signature(
    secret_key: str,
    method: str,
    path: str,
    query: str,
    headers: dict[str, str],
    signed_headers: list[str],
    body: bytes,
    amz_date: str,
    scope: str,
) -> str:
    """Recompute the SigV4 signature for a received request (the
    server-side half of the spec's signing process)."""
    from urllib.parse import quote

    canonical_headers = "".join(
        f"{h}:{' '.join(headers.get(h, '').split())}\n" for h in signed_headers
    )
    # canonical query: the spec sorts the (already percent-encoded)
    # k=v pairs; the wire order is unconstrained
    canonical_query = "&".join(sorted(query.split("&"))) if query else ""
    # canonical URI: non-S3 services DOUBLE-encode each path segment
    # (the wire path is once-encoded; encoding it again matches the
    # spec's "URI-encode each segment twice" rule)
    canonical_path = "/" + "/".join(
        quote(seg, safe="") for seg in (path or "/").split("/")[1:]
    )
    canonical = "\n".join(
        [
            method,
            canonical_path,
            canonical_query,
            canonical_headers,
            ";".join(signed_headers),
            hashlib.sha256(body).hexdigest(),
        ]
    )
    string_to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amz_date,
            scope,
            hashlib.sha256(canonical.encode()).hexdigest(),
        ]
    )
    date, region, service, _term = scope.split("/")
    k = f"AWS4{secret_key}".encode()
    for part in (date, region, service, "aws4_request"):
        k = hmac.new(k, part.encode(), hashlib.sha256).digest()
    return hmac.new(k, string_to_sign.encode(), hashlib.sha256).hexdigest()


def _verify_sigv4(handler: BaseHTTPRequestHandler, body: bytes, creds: dict[str, str]) -> str | None:
    """None when the request's signature is valid; an error message
    otherwise. ``creds`` maps access key id -> secret key."""
    auth = handler.headers.get("Authorization") or ""
    if not auth.startswith("AWS4-HMAC-SHA256 "):
        return "missing SigV4 Authorization header"
    fields = dict(
        kv.strip().split("=", 1) for kv in auth[len("AWS4-HMAC-SHA256 "):].split(",")
    )
    cred = fields.get("Credential", "")
    akid, _, scope = cred.partition("/")
    secret = creds.get(akid)
    if secret is None:
        return f"unknown access key {akid!r}"
    signed = fields.get("SignedHeaders", "").split(";")
    amz_date = handler.headers.get("X-Amz-Date") or ""
    path, _, query = handler.path.partition("?")
    lower_headers = {k.lower(): v for k, v in handler.headers.items()}
    expect = _sigv4_signature(
        secret, handler.command, path, query, lower_headers, signed, body, amz_date, scope
    )
    if not hmac.compare_digest(expect, fields.get("Signature", "")):
        return "signature mismatch"
    return None


# ---------------------------------------------------------------------------
# server


class _GlueHandler(BaseHTTPRequestHandler):
    server_version = "daft-spark-glue/1"
    protocol_version = "HTTP/1.1"

    def log_message(self, fmt, *args):  # noqa: D401
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/x-amz-json-1.1")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _fault(self, etype: str, msg: str, code: int = 400) -> None:
        # AWS JSON 1.1 error envelope
        self._send(code, {"__type": etype, "Message": msg})

    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n)
        err = _verify_sigv4(self, body, self.server.creds)  # type: ignore[attr-defined]
        if err:
            return self._fault("AccessDeniedException", err, 403)
        target = (self.headers.get("X-Amz-Target") or "").split(".")[-1]
        req = json.loads(body or b"{}")
        st = self.server.state  # type: ignore[attr-defined]
        op = getattr(self, f"_op_{target}", None)
        if op is None:
            return self._fault("InvalidInputException", f"unsupported operation {target}")
        with st["lock"]:
            return op(st, req)

    # -- operations ---------------------------------------------------------
    @staticmethod
    def _page(items: list, req: dict) -> tuple[list, str | None]:
        start = int(req.get("NextToken") or 0)
        limit = int(req.get("MaxResults") or 100)
        page = items[start : start + limit]
        nxt = str(start + limit) if start + limit < len(items) else None
        return page, nxt

    def _op_CreateDatabase(self, st, req):  # noqa: N802
        di = req.get("DatabaseInput") or {}
        name = di.get("Name")
        if not name:
            return self._fault("InvalidInputException", "DatabaseInput.Name required")
        if name in st["dbs"]:
            return self._fault("AlreadyExistsException", f"database {name} exists")
        st["dbs"][name] = {
            "Name": name,
            "LocationUri": di.get("LocationUri")
            or os.path.join(st["root"], name),
            "tables": {},
        }
        return self._send(200, {})

    def _op_GetDatabase(self, st, req):  # noqa: N802
        db = st["dbs"].get(req.get("Name"))
        if db is None:
            return self._fault("EntityNotFoundException", f"database {req.get('Name')} not found")
        return self._send(200, {"Database": {k: v for k, v in db.items() if k != "tables"}})

    def _op_GetDatabases(self, st, req):  # noqa: N802
        dbs = [
            {k: v for k, v in d.items() if k != "tables"}
            for _n, d in sorted(st["dbs"].items())
        ]
        page, nxt = self._page(dbs, req)
        out = {"DatabaseList": page}
        if nxt:
            out["NextToken"] = nxt
        return self._send(200, out)

    def _op_DeleteDatabase(self, st, req):  # noqa: N802
        if st["dbs"].pop(req.get("Name"), None) is None:
            return self._fault("EntityNotFoundException", f"database {req.get('Name')} not found")
        return self._send(200, {})

    def _op_CreateTable(self, st, req):  # noqa: N802
        db = st["dbs"].get(req.get("DatabaseName"))
        if db is None:
            return self._fault("EntityNotFoundException", f"database {req.get('DatabaseName')} not found")
        ti = dict(req.get("TableInput") or {})
        name = ti.get("Name")
        if not name:
            return self._fault("InvalidInputException", "TableInput.Name required")
        if name in db["tables"]:
            return self._fault("AlreadyExistsException", f"table {name} exists")
        ti["DatabaseName"] = req["DatabaseName"]
        db["tables"][name] = ti
        return self._send(200, {})

    def _op_UpdateTable(self, st, req):  # noqa: N802
        db = st["dbs"].get(req.get("DatabaseName"))
        ti = dict(req.get("TableInput") or {})
        if db is None or ti.get("Name") not in db["tables"]:
            return self._fault("EntityNotFoundException", "table not found")
        ti["DatabaseName"] = req["DatabaseName"]
        db["tables"][ti["Name"]] = ti
        return self._send(200, {})

    def _op_GetTable(self, st, req):  # noqa: N802
        db = st["dbs"].get(req.get("DatabaseName"))
        tbl = (db or {"tables": {}})["tables"].get(req.get("Name"))
        if tbl is None:
            return self._fault(
                "EntityNotFoundException",
                f"table {req.get('DatabaseName')}.{req.get('Name')} not found",
            )
        return self._send(200, {"Table": tbl})

    def _op_GetTables(self, st, req):  # noqa: N802
        db = st["dbs"].get(req.get("DatabaseName"))
        if db is None:
            return self._fault("EntityNotFoundException", f"database {req.get('DatabaseName')} not found")
        tables = [db["tables"][t] for t in sorted(db["tables"])]
        page, nxt = self._page(tables, req)
        out = {"TableList": page}
        if nxt:
            out["NextToken"] = nxt
        return self._send(200, out)

    def _op_DeleteTable(self, st, req):  # noqa: N802
        db = st["dbs"].get(req.get("DatabaseName"))
        if db is None or db["tables"].pop(req.get("Name"), None) is None:
            return self._fault("EntityNotFoundException", "table not found")
        return self._send(200, {})


class GlueCatalogServer:
    """In-process Glue Data Catalog over a filesystem warehouse,
    speaking AWS JSON 1.1 with mandatory SigV4 verification."""

    def __init__(
        self,
        warehouse_root: str,
        access_key: str = "testing",
        secret_key: str = "testing-secret",
    ):
        os.makedirs(warehouse_root, exist_ok=True)
        self.access_key, self.secret_key = access_key, secret_key
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _GlueHandler)
        self._httpd.creds = {access_key: secret_key}  # type: ignore[attr-defined]
        self._httpd.state = {  # type: ignore[attr-defined]
            "root": warehouse_root,
            "dbs": {},
            "lock": threading.Lock(),
        }
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def uri(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "GlueCatalogServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> "GlueCatalogServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


# ---------------------------------------------------------------------------
# catalog adapter


def _glue_columns(schema) -> list[dict]:
    """Spark StructType -> Glue StorageDescriptor.Columns (hive type
    strings — Spark's simpleString IS the hive syntax)."""
    return [
        {"Name": f.name, "Type": f.dataType.simpleString()} for f in schema.fields
    ]


def _spark_schema(columns: list[dict]):
    from pyspark.sql.types import StructType

    if not columns:
        return StructType([])
    # Glue column types use hive syntax, which Spark's DDL parser reads
    return StructType.fromDDL(", ".join(f"{c['Name']} {c['Type']}" for c in columns))


class GlueRestCatalog(Catalog):
    """Catalog over a botocore Glue client (the reference's
    from_client/from_session shape). Identifiers are
    ``database.table``; namespaces are databases."""

    def __init__(self, client, name: str = "glue"):
        self.name = name
        self._client = client

    # -- namespaces ----------------------------------------------------------
    def create_namespace(self, identifier, location_uri: str | None = None) -> None:
        di = {"Name": str(_ident(identifier))}
        if location_uri:
            di["LocationUri"] = location_uri
        try:
            self._client.create_database(DatabaseInput=di)
        except self._client.exceptions.AlreadyExistsException:
            pass

    def has_namespace(self, identifier) -> bool:
        try:
            self._client.get_database(Name=str(_ident(identifier)))
            return True
        except self._client.exceptions.EntityNotFoundException:
            return False

    def list_namespaces(self, pattern: str | None = None):
        out: list[str] = []
        token: str | None = None
        while True:
            req = {"NextToken": token} if token else {}
            res = self._client.get_databases(**req)
            out.extend(d["Name"] for d in res.get("DatabaseList", []))
            token = res.get("NextToken")
            if not token:
                break
        if pattern:
            out = [n for n in out if pattern in n]
        return [Identifier.from_str(n) for n in sorted(out)]

    def drop_namespace(self, identifier) -> None:
        try:
            self._client.delete_database(Name=str(_ident(identifier)))
        except self._client.exceptions.EntityNotFoundException:
            raise NotFoundError(f"database {identifier} not found") from None

    # -- tables ----------------------------------------------------------------
    @staticmethod
    def _split(identifier) -> tuple[str, str]:
        parts = list(_ident(identifier))
        if len(parts) != 2:
            raise ValueError(f"Glue tables are database.table: {identifier}")
        return parts[0], parts[1]

    def has_table(self, identifier) -> bool:
        db, name = self._split(identifier)
        try:
            self._client.get_table(DatabaseName=db, Name=name)
            return True
        except self._client.exceptions.EntityNotFoundException:
            return False

    def list_tables(self, pattern: str | None = None) -> list[str]:
        out: list[str] = []
        for ns in self.list_namespaces():
            db = str(ns)
            if pattern and "." not in pattern and db != pattern:
                continue
            token: str | None = None
            while True:
                req: dict = {"DatabaseName": db}
                if token:
                    req["NextToken"] = token
                res = self._client.get_tables(**req)
                out.extend(f"{db}.{t['Name']}" for t in res.get("TableList", []))
                token = res.get("NextToken")
                if not token:
                    break
        if pattern and "." in pattern:
            out = [n for n in out if pattern in n]
        return sorted(out)

    def get_table(self, identifier) -> Table:
        """Dispatch on Glue metadata exactly like the reference
        (daft/catalog/__glue.py:186-205): table_type=ICEBERG ->
        metadata_location; classification parquet/csv ->
        StorageDescriptor scan."""
        db, name = self._split(identifier)
        try:
            tbl = self._client.get_table(DatabaseName=db, Name=name)["Table"]
        except self._client.exceptions.EntityNotFoundException:
            raise NotFoundError(f"table {identifier} not found") from None
        params = tbl.get("Parameters") or {}
        full = f"{db}.{name}"
        if params.get("table_type", "").lower() == "iceberg":
            loc = params.get("metadata_location")
            if not loc:
                raise ValueError(f"ICEBERG table {full} lacks metadata_location")
            tpath = os.path.dirname(os.path.dirname(loc))
            from daft_spark.session import _iceberg_fs_table

            return _iceberg_fs_table(full, tpath)
        classification = params.get("classification", "").lower()
        sd = tbl.get("StorageDescriptor") or {}
        loc, cols = sd.get("Location"), sd.get("Columns") or []
        if classification not in ("parquet", "csv") or not loc:
            raise NotImplementedError(
                f"no supported table implementation for classification="
                f"{classification!r} table_type={params.get('table_type')!r}"
            )
        schema = _spark_schema(cols)

        def _read():
            from daft_spark.context import get_or_create

            spark = get_or_create()
            if classification == "parquet":
                return spark.read.schema(schema).parquet(loc)
            has_headers = params.get("skip.header.line.count", "0") == "1"
            delim = params.get("delimiter", ",")
            return (
                spark.read.schema(schema)
                .option("header", "true" if has_headers else "false")
                .option("sep", delim)
                .csv(loc)
            )

        def _write(df, mode="append"):
            writer = df.write.mode(mode).format(classification)
            if classification == "csv":
                writer = writer.option("header", "true")
            writer.save(loc)

        return Table(full, _read, _write)

    def read_table(self, identifier):
        return self.get_table(identifier).read()

    def create_table(self, identifier, source, **properties) -> Table:
        """Writes the data then registers the Glue table. ``format``
        picks iceberg (default) / parquet / csv; the location derives
        from the database's LocationUri, as Glue engines do."""
        from pyspark.sql import DataFrame as SparkDF

        from daft_spark.session import _is_wrapped_df

        if _is_wrapped_df(source):
            source = source.to_spark()
        if not isinstance(source, SparkDF):
            raise TypeError(f"cannot create a Glue table from {type(source)}")
        db, name = self._split(identifier)
        fmt = properties.get("format", "iceberg").lower()
        dbinfo = self._client.get_database(Name=db)["Database"]
        loc = properties.get("location") or os.path.join(dbinfo["LocationUri"], name)
        ti: dict = {"Name": name, "TableType": "EXTERNAL_TABLE"}
        if fmt == "iceberg":
            from daft_spark.io.iceberg import (
                _load_metadata,
                _metadata_file,
                write_iceberg_py,
            )

            write_iceberg_py(source, loc, mode="error",
                             partition_by=properties.get("partition_by"))
            ti["Parameters"] = {
                "table_type": "ICEBERG",
                "metadata_location": _metadata_file(loc, _load_metadata(loc)[0]),
            }
            ti["StorageDescriptor"] = {
                "Location": loc, "Columns": _glue_columns(source.schema),
            }
        elif fmt in ("parquet", "csv"):
            writer = source.write.mode("overwrite").format(fmt)
            if fmt == "csv":
                writer = writer.option("header", "true")
            writer.save(loc)
            ti["Parameters"] = {"classification": fmt}
            if fmt == "csv":
                ti["Parameters"]["skip.header.line.count"] = "1"
                ti["Parameters"]["delimiter"] = ","
            ti["StorageDescriptor"] = {
                "Location": loc, "Columns": _glue_columns(source.schema),
            }
        else:
            raise ValueError(f"unsupported Glue table format {fmt!r}")
        self._client.create_table(DatabaseName=db, TableInput=ti)
        return self.get_table(identifier)

    def create_table_if_not_exists(self, identifier, source, **properties) -> Table:
        if self.has_table(identifier):
            return self.get_table(identifier)
        return self.create_table(identifier, source, **properties)

    def drop_table(self, identifier) -> None:
        db, name = self._split(identifier)
        try:
            self._client.delete_table(DatabaseName=db, Name=name)
        except self._client.exceptions.EntityNotFoundException:
            raise NotFoundError(f"table {identifier} not found") from None

    def __repr__(self) -> str:
        return f"GlueRestCatalog(name={self.name!r})"
