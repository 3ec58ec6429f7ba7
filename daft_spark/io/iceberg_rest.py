"""Iceberg REST catalog — protocol client + in-process HTTP server.

The reference's ``Catalog.from_iceberg`` accepts pyiceberg catalog
objects, whose production deployment is the Iceberg REST catalog
protocol (apache/iceberg ``rest-catalog-open-api.yaml`` — a public
OpenAPI spec; reference adapter ``daft/catalog/__iceberg.py``). This
module implements that protocol on both sides so the catalog surface
exercises the same wire contract real deployments use, without any
external service:

- ``IcebergRestCatalogServer`` — a ThreadingHTTPServer bound to
  127.0.0.1:<ephemeral> serving the v1 endpoints (config, namespace
  CRUD, table list/load/create/drop) over a filesystem warehouse
  (the same layout IcebergDirectoryCatalog manages). The analogue of
  ``kafka_fake``: a file-backed service speaking the REAL protocol.
- ``IcebergRestCatalog`` — a Catalog whose every operation is an HTTP
  round-trip (urllib, stdlib-only). ``loadTable`` returns the spec's
  LoadTableResult (metadata-location + metadata); reads run the
  pure-Python metadata walk from that location.

Scope: read/discovery, create/drop, AND (r7) the multi-operation
``updateTable`` commit protocol: the server validates requirements
(assert-table-uuid, assert-ref-snapshot-id) against its CURRENT
metadata and commits the updates through the file path's own
committer (``iceberg._commit``) — the catalog-arbitrated metadata
swap. Table handles returned by the client stage data/manifests to the
table location and move the pointer ONLY through commit_table, so a
concurrent commit answers 409 CommitFailedException instead of losing
an update.
"""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import quote, unquote, urlsplit

from daft_spark.session import (
    Catalog,
    Identifier,
    NotFoundError,
    _iceberg_fs_table,
    _ident,
)

# The spec separates multipart namespace levels with the 0x1F unit
# separator in URL path segments.
_NS_SEP = "\x1f"


def _ns_to_url(ns: list[str]) -> str:
    return quote(_NS_SEP.join(ns), safe="")


def _ns_from_url(seg: str) -> list[str]:
    return unquote(seg).split(_NS_SEP)


# ---------------------------------------------------------------------------
# server


class _Handler(BaseHTTPRequestHandler):
    server_version = "daft-spark-iceberg-rest/1"

    # silence per-request stderr logging
    def log_message(self, fmt, *args):  # noqa: D401
        pass

    # -- helpers -----------------------------------------------------------
    def _send(self, code: int, payload: dict | None = None) -> None:
        body = b"" if payload is None else json.dumps(payload).encode()
        self.send_response(code)
        if body:
            self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body and self.command != "HEAD":
            self.wfile.write(body)

    def _error(self, code: int, msg: str, etype: str) -> None:
        self._send(code, {"error": {"message": msg, "type": etype, "code": code}})

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n) or b"{}")

    @property
    def _cat(self):
        return self.server.catalog  # type: ignore[attr-defined]

    def _route(self):
        """(kind, parts) for the v1 routes we serve."""
        path = urlsplit(self.path).path.rstrip("/")
        segs = [s for s in path.split("/") if s]
        if segs[:1] != ["v1"]:
            return None, None
        segs = segs[1:]
        if segs == ["config"]:
            return "config", None
        if segs[:1] == ["namespaces"]:
            if len(segs) == 1:
                return "namespaces", None
            ns = _ns_from_url(segs[1])
            if len(segs) == 2:
                return "namespace", ns
            if len(segs) == 3 and segs[2] == "tables":
                return "tables", ns
            if len(segs) == 4 and segs[2] == "tables":
                return "table", (ns, unquote(segs[3]))
        return None, None

    # -- verbs -------------------------------------------------------------
    def do_GET(self):  # noqa: N802
        kind, arg = self._route()
        cat = self._cat
        if kind == "config":
            return self._send(200, {"defaults": {}, "overrides": {}})
        if kind == "namespaces":
            return self._send(
                200, {"namespaces": [list(i) for i in cat.list_namespaces()]}
            )
        if kind == "namespace":
            if not cat.has_namespace(".".join(arg)):
                return self._error(404, f"namespace {arg} not found", "NoSuchNamespaceException")
            return self._send(200, {"namespace": arg, "properties": {}})
        if kind == "tables":
            ns = ".".join(arg)
            if not cat.has_namespace(ns):
                return self._error(404, f"namespace {arg} not found", "NoSuchNamespaceException")
            idents = []
            for t in cat.list_tables():
                parts = t.split(".")
                if parts[:-1] == arg:
                    idents.append({"namespace": parts[:-1], "name": parts[-1]})
            return self._send(200, {"identifiers": idents})
        if kind == "table":
            ns, name = arg
            ident = ".".join(ns + [name])
            if not cat.has_table(ident):
                return self._error(404, f"table {ident} not found", "NoSuchTableException")
            from daft_spark.io.iceberg import _load_metadata, _metadata_file

            tpath = cat._path(ident)
            version, meta = _load_metadata(tpath)
            return self._send(
                200,
                {
                    "metadata-location": _metadata_file(tpath, version),
                    "metadata": meta,
                    "config": {},
                },
            )
        return self._error(404, f"no route for {self.path}", "NotFoundException")

    def do_HEAD(self):  # noqa: N802
        kind, arg = self._route()
        cat = self._cat
        if kind == "namespace":
            code = 204 if cat.has_namespace(".".join(arg)) else 404
            return self._send(code)
        if kind == "table":
            ns, name = arg
            code = 204 if cat.has_table(".".join(ns + [name])) else 404
            return self._send(code)
        return self._send(404)

    def do_POST(self):  # noqa: N802
        kind, arg = self._route()
        cat = self._cat
        if kind == "namespaces":
            body = self._body()
            ns = body.get("namespace") or []
            ident = ".".join(ns)
            if cat.has_namespace(ident):
                return self._error(409, f"namespace {ns} exists", "AlreadyExistsException")
            cat.create_namespace(ident)
            return self._send(200, {"namespace": ns, "properties": body.get("properties") or {}})
        if kind == "tables":
            # CreateTableRequest: we stage a location for the caller;
            # the commit protocol (updateTable) is out of scope
            body = self._body()
            ns, name = arg, body.get("name")
            if not name:
                return self._error(400, "missing table name", "BadRequestException")
            ident = ".".join(ns + [name])
            if not cat.has_namespace(".".join(ns)):
                return self._error(404, f"namespace {ns} not found", "NoSuchNamespaceException")
            if cat.has_table(ident):
                return self._error(409, f"table {ident} exists", "AlreadyExistsException")
            loc = cat._path(ident)
            if body.get("stage-create"):
                return self._send(200, {"metadata-location": None, "metadata": {"location": loc}})
            return self._send(200, {"metadata": {"location": loc}})
        if kind == "table":
            # CommitTableRequest: validate requirements against the
            # CURRENT metadata, then commit the updates on exactly that
            # version through the table's one committer — a commit that
            # lost the race to publish it answers 409 like a failed
            # requirement (data/manifests already sit in shared storage;
            # only the pointer move is the catalog's job)
            ns, name = arg
            ident = ".".join(ns + [name])
            if not cat.has_table(ident):
                return self._error(404, f"table {ident} not found", "NoSuchTableException")
            from daft_spark.io.iceberg import _commit, _load_metadata, _metadata_file
            from daft_spark.io.publish import ConcurrentCommitError

            tpath = cat._path(ident)
            version, meta = _load_metadata(tpath)
            body = self._body()
            for req in body.get("requirements") or []:
                rtype = req.get("type")
                if rtype == "assert-table-uuid":
                    if meta.get("table-uuid") != req.get("uuid"):
                        return self._error(
                            409, "table uuid changed", "CommitFailedException"
                        )
                elif rtype == "assert-ref-snapshot-id":
                    ref = req.get("ref", "main")
                    cur = (
                        meta.get("current-snapshot-id")
                        if ref == "main"
                        else (meta.get("refs") or {}).get(ref, {}).get("snapshot-id")
                    )
                    if cur in (None, -1):
                        cur = None
                    if cur != req.get("snapshot-id"):
                        return self._error(
                            409,
                            f"ref {ref!r} moved: expected {req.get('snapshot-id')}, "
                            f"found {cur} (concurrent commit)",
                            "CommitFailedException",
                        )
                else:
                    return self._error(
                        400, f"unsupported requirement {rtype!r}", "BadRequestException"
                    )
            try:
                version, meta = _commit(tpath, version, meta, body.get("updates") or [])
            except ConcurrentCommitError as e:
                return self._error(409, str(e), "CommitFailedException")
            except (KeyError, ValueError) as e:
                return self._error(400, str(e), "BadRequestException")
            return self._send(
                200, {"metadata-location": _metadata_file(tpath, version), "metadata": meta}
            )
        return self._error(404, f"no route for {self.path}", "NotFoundException")

    def do_DELETE(self):  # noqa: N802
        kind, arg = self._route()
        cat = self._cat
        try:
            if kind == "namespace":
                cat.drop_namespace(".".join(arg))
                return self._send(204)
            if kind == "table":
                ns, name = arg
                cat.drop_table(".".join(ns + [name]))
                return self._send(204)
        except NotFoundError as e:
            return self._error(404, str(e), "NoSuchTableException")
        return self._error(404, f"no route for {self.path}", "NotFoundException")


class IcebergRestCatalogServer:
    """In-process REST catalog over a filesystem warehouse. Use as a
    context manager; ``.uri`` is the http base URL."""

    def __init__(self, warehouse_root: str):
        from daft_spark.session import IcebergDirectoryCatalog

        os.makedirs(warehouse_root, exist_ok=True)
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
        self._httpd.catalog = IcebergDirectoryCatalog(warehouse_root)  # type: ignore[attr-defined]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)

    @property
    def uri(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "IcebergRestCatalogServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()

    def __enter__(self) -> "IcebergRestCatalogServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


# ---------------------------------------------------------------------------
# client


class RestError(Exception):
    def __init__(self, code: int, message: str, etype: str = ""):
        super().__init__(f"{code} {etype}: {message}")
        self.code = code
        self.etype = etype


def _http(method: str, url: str, body: dict | None = None) -> tuple[int, dict]:
    import urllib.error
    import urllib.request

    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(url, data=data, method=method)
    if data is not None:
        req.add_header("Content-Type", "application/json")
    try:
        with urllib.request.urlopen(req) as resp:
            raw = resp.read()
            return resp.status, (json.loads(raw) if raw else {})
    except urllib.error.HTTPError as e:
        raw = e.read()
        try:
            payload = json.loads(raw) if raw else {}
        except json.JSONDecodeError:
            payload = {}
        return e.code, payload


class IcebergRestCatalog(Catalog):
    """Protocol-level client: every operation is an HTTP round-trip
    against a REST catalog base URL. Constructed via
    ``Catalog.from_iceberg("http://host:port")``."""

    def __init__(self, uri: str, name: str = "iceberg"):
        self.name = name
        self._base = uri.rstrip("/")
        # handshake per the spec: GET /v1/config
        code, cfg = _http("GET", f"{self._base}/v1/config")
        if code != 200:
            raise ConnectionError(f"REST catalog config handshake failed: HTTP {code}")
        self._config = cfg

    # -- helpers -----------------------------------------------------------
    def _raise(self, code: int, payload: dict, default: str):
        err = (payload or {}).get("error") or {}
        msg = err.get("message", default)
        if code == 404:
            raise NotFoundError(msg)
        raise RestError(code, msg, err.get("type", ""))

    @staticmethod
    def _split(identifier) -> tuple[list[str], str]:
        parts = list(_ident(identifier))
        return parts[:-1], parts[-1]

    # -- namespaces --------------------------------------------------------
    def create_namespace(self, identifier) -> None:
        ns = list(_ident(identifier))
        code, payload = _http(
            "POST", f"{self._base}/v1/namespaces", {"namespace": ns, "properties": {}}
        )
        if code not in (200, 409):
            self._raise(code, payload, f"create namespace {ns}")

    def create_namespace_if_not_exists(self, identifier) -> None:
        self.create_namespace(identifier)

    def drop_namespace(self, identifier) -> None:
        ns = list(_ident(identifier))
        code, payload = _http("DELETE", f"{self._base}/v1/namespaces/{_ns_to_url(ns)}")
        if code not in (200, 204):
            self._raise(code, payload, f"drop namespace {ns}")

    def has_namespace(self, identifier) -> bool:
        ns = list(_ident(identifier))
        code, _ = _http("HEAD", f"{self._base}/v1/namespaces/{_ns_to_url(ns)}")
        return code in (200, 204)

    def list_namespaces(self, pattern: str | None = None):
        code, payload = _http("GET", f"{self._base}/v1/namespaces")
        if code != 200:
            self._raise(code, payload, "list namespaces")
        out = [".".join(ns) for ns in payload.get("namespaces", [])]
        if pattern:
            out = [n for n in out if pattern in n]
        return [Identifier.from_str(n) for n in sorted(out)]

    # -- tables ------------------------------------------------------------
    def has_table(self, identifier) -> bool:
        ns, name = self._split(identifier)
        code, _ = _http(
            "HEAD", f"{self._base}/v1/namespaces/{_ns_to_url(ns)}/tables/{quote(name, safe='')}"
        )
        return code in (200, 204)

    def list_tables(self, pattern: str | None = None) -> list[str]:
        out: list[str] = []
        for ns in self.list_namespaces():
            code, payload = _http(
                "GET", f"{self._base}/v1/namespaces/{_ns_to_url(list(ns))}/tables"
            )
            if code != 200:
                continue
            for ident in payload.get("identifiers", []):
                out.append(".".join(list(ident["namespace"]) + [ident["name"]]))
        if pattern:
            out = [n for n in out if pattern in n]
        return sorted(out)

    def load_table_result(self, identifier) -> dict:
        """The spec's LoadTableResult (metadata-location + metadata)."""
        ns, name = self._split(identifier)
        code, payload = _http(
            "GET", f"{self._base}/v1/namespaces/{_ns_to_url(ns)}/tables/{quote(name, safe='')}"
        )
        if code != 200:
            self._raise(code, payload, f"load table {identifier}")
        return payload

    def commit_table(self, identifier, requirements: list, updates: list) -> dict:
        """The spec's multi-operation updateTable commit: POST
        requirements + updates; the SERVER validates the requirements
        against its current metadata and publishes the new version —
        the catalog-arbitrated swap that makes concurrent writers safe.
        409 CommitFailedException surfaces as RestError."""
        ns, name = self._split(identifier)
        code, payload = _http(
            "POST",
            f"{self._base}/v1/namespaces/{_ns_to_url(ns)}/tables/{quote(name, safe='')}",
            {
                "identifier": {"namespace": ns, "name": name},
                "requirements": requirements,
                "updates": updates,
            },
        )
        if code != 200:
            self._raise(code, payload, f"commit table {identifier}")
        return payload

    def get_table(self, identifier):
        res = self.load_table_result(identifier)
        loc = res["metadata-location"]
        # <table>/metadata/<file>.metadata.json -> <table>
        tpath = os.path.dirname(os.path.dirname(loc))
        tbl = _iceberg_fs_table(str(_ident(identifier)), tpath)

        def _rest_write(df, mode="append"):
            # data + manifests stage to the (shared) table location; the
            # metadata pointer moves only through the commit protocol
            if mode != "append":
                raise ValueError(
                    "REST-committed table writes support mode='append' only"
                )
            from daft_spark.io.iceberg import _stage_write

            self._commit_append(
                identifier, _stage_write(df, tpath, self._load(identifier), "append")
            )

        tbl._write = _rest_write
        return tbl

    def _load(self, identifier) -> tuple[None, dict]:
        """(version, metadata) for the shared commit loop; the catalog,
        not the client, numbers metadata versions."""
        return None, self.load_table_result(identifier)["metadata"]

    def _commit_append(self, identifier, staged) -> None:
        """Commit a staged append through updateTable. The requirement
        pins main to the snapshot the staged write read, so a concurrent
        commit answers 409 CommitFailedException; that surfaces as
        ConcurrentCommitError to the loop the file path uses too
        (iceberg._commit_snapshot), which refreshes the table, rebases
        the staged snapshot onto the moved head and retries."""
        from daft_spark.io.iceberg import _commit_snapshot
        from daft_spark.io.publish import ConcurrentCommitError

        def commit(_version, base, updates):
            head = base.get("current-snapshot-id")
            try:
                self.commit_table(
                    identifier,
                    requirements=[
                        {
                            "type": "assert-ref-snapshot-id",
                            "ref": "main",
                            "snapshot-id": None if head in (None, -1) else head,
                        }
                    ],
                    updates=updates,
                )
            except RestError as e:
                if e.code != 409:
                    raise
                raise ConcurrentCommitError(str(e)) from e

        _commit_snapshot(staged, lambda: self._load(identifier), commit)

    def read_table(self, identifier):
        return self.get_table(identifier).read()

    def create_table(self, identifier, source, **properties):
        ns, name = self._split(identifier)
        code, payload = _http(
            "POST",
            f"{self._base}/v1/namespaces/{_ns_to_url(ns)}/tables",
            {"name": name, "stage-create": True},
        )
        if code != 200:
            self._raise(code, payload, f"create table {identifier}")
        loc = payload["metadata"]["location"]
        from pyspark.sql import DataFrame as SparkDF

        from daft_spark.dataframe import DataFrame as WrappedDF
        from daft_spark.io.iceberg import write_iceberg_py

        if isinstance(source, WrappedDF):
            source = source.to_spark()
        if not isinstance(source, SparkDF):
            raise TypeError(f"cannot create an Iceberg table from {type(source)}")
        write_iceberg_py(
            source, loc, mode="error", partition_by=properties.get("partition_by")
        )
        return self.get_table(identifier)

    def create_table_if_not_exists(self, identifier, source, **properties):
        if self.has_table(identifier):
            return self.get_table(identifier)
        return self.create_table(identifier, source, **properties)

    def drop_table(self, identifier) -> None:
        ns, name = self._split(identifier)
        code, payload = _http(
            "DELETE",
            f"{self._base}/v1/namespaces/{_ns_to_url(ns)}/tables/{quote(name, safe='')}",
        )
        if code not in (200, 204):
            self._raise(code, payload, f"drop table {identifier}")

    def __repr__(self) -> str:
        return f"IcebergRestCatalog(name={self.name!r}, uri={self._base!r})"
