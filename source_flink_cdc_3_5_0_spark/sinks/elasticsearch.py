"""Elasticsearch changelog sink — the ES ``_bulk`` wire format.

Parity target: flink-cdc-pipeline-connector-elasticsearch's
``ElasticsearchEventSerializer`` (ElasticsearchEventSerializer.java:140-170):
document ``_id`` = primary-key values joined with ``_``; INSERT/REPLACE/
UPDATE render an index operation carrying the full after-image, DELETE a
delete operation; the index name is the table id (optionally suffixed by a
sharding-column value, ``tableSharding`` :172-180); schema changes update
only the serializer's schema registry — Elasticsearch has no DDL surface
(dynamic mappings absorb new fields).

Spark-first shape: the batch reduces to ONE final image per key (the same
map-side-combinable reduction every keyed sink here uses), then the bulk
NDJSON renders entirely JVM-side (``to_json`` over structs — no Python),
giving byte-exact ``_bulk`` request bodies. With ``hosts`` unset the
batches spool to ``output_dir/<index>/batch_<id>/`` through
:func:`.ddl_spool.spool_batch`: the batch directory appears whole or
not at all and doubles as the replay marker (same contract as the
Kafka sink). With ``hosts`` set the body POSTs to ``/_bulk`` over real
HTTP (round 10) and the response's per-item results are CHECKED —
``errors: true`` raises with the first item's error. No ES cluster
ships in this sandbox, so :class:`ToyElasticsearchServer` below speaks
the documented _bulk API over a real socket (the mysqld-toy pattern)
and e2e tests assert the materialized store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..common.events import OP_COL
from ..common.schema import Schema
from ..common.tableid import TableId
from ..sources.base import SEQ_COL
from .base import DataSink, MetadataApplier
from .ddl_spool import spool_batch


class _EsMetadataApplier(MetadataApplier):
    """Elasticsearch has no DDL surface; schema changes only update the
    engine registry (dynamic mappings absorb added fields — the
    reference's applier likewise touches only its schema map)."""

    def apply_schema_change(self, table_id, event, evolved_schema) -> None:
        return


class ElasticsearchBulkSink(DataSink):
    def __init__(self, output_dir: str | None = None,
                 hosts: str | None = None,
                 shard_suffix_col: str | None = None,
                 username: str | None = None,
                 password: str | None = None,
                 ca_cert: str | None = None):
        if not output_dir and not hosts:
            raise ValueError("need output_dir (local _bulk spool) or hosts")
        self.output_dir = output_dir
        self.hosts = [h.strip() for h in hosts.split(",")] if hosts else []
        self.shard_suffix_col = shard_suffix_col
        # ElasticsearchDataSinkOptions username/password — HTTP basic
        # auth on every _bulk POST (X-Pack security, on by default
        # since ES 8); https:// hosts use TLS with ca_cert pinned
        if (password is None) != (username is None):
            # half-configured credentials either go silently unused or
            # send the literal string "None" as the password (review
            # r11 finding #3) — both are misconfigurations, refuse
            raise ValueError(
                "elasticsearch needs BOTH username and password (got "
                "only %s)" % ("username" if password is None
                              else "password"))
        self.auth = (username, password) if username is not None else None
        self.ca_cert = ca_cert

    def metadata_applier(self) -> MetadataApplier:
        return _EsMetadataApplier()

    def _index_name(self, table_id: TableId) -> F.Column:
        base = F.lit(table_id.identifier())
        if self.shard_suffix_col:
            # tableSharding: index = "<tableId>_<shard-column value>"
            return F.concat(base, F.lit("_"),
                            F.col(self.shard_suffix_col).cast("string"))
        return base

    def encode_bulk(self, table_id: TableId, df: DataFrame,
                    schema: Schema) -> DataFrame:
        """Changelog batch -> one ``lines`` string column of _bulk NDJSON
        (action line [+ source line for index ops])."""
        from ..streaming.materialize import latest_image

        pks = [k for k in schema.primary_keys if k in df.columns]
        if not pks:
            raise ValueError(
                f"elasticsearch sink requires primary keys for {table_id} "
                "(document _id = PK values, ElasticsearchEventSerializer)")
        phys = [c.name for c in schema.columns if c.name in df.columns]
        if OP_COL in df.columns:
            final = latest_image(
                df, pks, seq_col=SEQ_COL if SEQ_COL in df.columns else None,
                keep_delete_marker=True)
            op = F.col(OP_COL)
        else:
            final = df
            op = F.lit("+I")
        doc_id = F.concat_ws("_", *[F.col(k).cast("string") for k in pks])
        index = self._index_name(table_id)
        action_key = F.struct(index.alias("_index"), doc_id.alias("_id"))
        index_line = F.concat(
            F.to_json(F.struct(action_key.alias("index"))), F.lit("\n"),
            F.to_json(F.struct(*[F.col(c) for c in phys])))
        delete_line = F.to_json(F.struct(action_key.alias("delete")))
        return final.select(
            F.when(op == "-D", delete_line).otherwise(index_line)
            .alias("lines"))

    def write(self, table_id: TableId, df: DataFrame, schema: Schema,
              batch_id) -> None:
        if self.hosts:
            body = "\n".join(
                r.lines for r in
                self.encode_bulk(table_id, df, schema).collect()) + "\n"
            # bounded driver-side collect: one final image per key, the
            # same batch a live connector's bulk processor accumulates
            post_bulk(self.hosts, body, auth=self.auth,
                      ca_cert=self.ca_cert)
            return
        spool_batch(os.path.join(self.output_dir, table_id.identifier(),
                                 f"batch_{batch_id}"),
                    self.encode_bulk(table_id, df, schema))


def post_bulk(hosts: list[str], body: str,
              auth: "tuple[str, str] | None" = None,
              ca_cert: str | None = None) -> dict:
    """POST NDJSON to ``/_bulk`` on the first reachable host and check
    the response: HTTP errors and ``errors: true`` item results raise
    by name (a silently dropped bulk item is lost data). ``auth`` =
    (username, password) rides as HTTP basic auth; a 401 names the
    security layer rather than dumping the body. Hosts may carry an
    ``https://`` scheme (ES 8 serves TLS by default) — ``ca_cert``
    pins the cluster's CA, verify-ca semantics like the other
    transports. Returns the parsed response."""
    import base64
    import http.client
    import json

    headers = {"Content-Type": "application/x-ndjson"}
    if auth is not None:
        headers["Authorization"] = "Basic " + base64.b64encode(
            ("%s:%s" % auth).encode("utf-8")).decode("ascii")
    last_err: Exception | None = None
    for host in hosts:
        scheme, _, rest = host.rpartition("://")
        h, _, port = rest.partition(":")
        try:
            if scheme == "https":
                import ssl

                if ca_cert:
                    # explicit CA pin: verify-ca semantics (hostname
                    # not enforced — toy certs carry CN=127.0.0.1)
                    ctx = ssl.create_default_context(cafile=ca_cert)
                    ctx.check_hostname = False
                else:
                    # system trust store: full verification incl.
                    # hostname, the default every real client applies
                    ctx = ssl.create_default_context()
                conn = http.client.HTTPSConnection(
                    h, int(port or 9200), timeout=30, context=ctx)
            else:
                conn = http.client.HTTPConnection(h, int(port or 9200),
                                                  timeout=30)
            conn.request("POST", "/_bulk", body.encode("utf-8"), headers)
            resp = conn.getresponse()
            data = resp.read()
            if resp.status == 401:
                raise ValueError(
                    "elasticsearch refused the credentials (HTTP 401%s)"
                    % ("; no username configured" if auth is None else ""))
            if resp.status != 200:
                raise ValueError("elasticsearch _bulk HTTP %d: %s"
                                 % (resp.status, data[:300]))
            out = json.loads(data)
            if out.get("errors"):
                bad = next((it for it in out.get("items", [])
                            for op in it.values()
                            if op.get("error")), None)
                raise ValueError("elasticsearch _bulk item failed: %r"
                                 % (bad,))
            return out
        except (OSError, http.client.HTTPException) as e:
            last_err = e
            continue
    raise ValueError("no elasticsearch host reachable (%s): %s"
                     % (",".join(hosts), last_err))


class ToyElasticsearchServer:
    """A real-socket ``/_bulk`` endpoint speaking the documented API
    (index/delete action lines + per-item results), holding an
    in-memory document store — the same in-repo toy-server pattern the
    binlog transport uses. ``fail_ids`` simulates item-level failures
    so the sink's error surfacing is testable."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0,
                 fail_ids: set[str] | None = None,
                 auth: "tuple[str, str] | None" = None,
                 tls: bool = False):
        import base64
        import http.server
        import json
        import threading

        self.tls = tls
        self.ca_cert: str | None = None

        store: dict[str, dict[str, dict]] = {}
        self.store = store
        fail = fail_ids or set()
        want_auth = (None if auth is None else
                     "Basic " + base64.b64encode(
                         ("%s:%s" % auth).encode()).decode())

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                return

            def do_POST(self):  # noqa: N802 (stdlib naming)
                if want_auth is not None and \
                        self.headers.get("Authorization") != want_auth:
                    n = int(self.headers.get("Content-Length", 0))
                    self.rfile.read(n)  # drain so the client can read
                    body = json.dumps({"error": {
                        "type": "security_exception",
                        "reason": "missing authentication credentials"
                    }}).encode()
                    self.send_response(401)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if self.path.rstrip("/").split("/")[-1] != "_bulk":
                    self.send_response(404)
                    self.end_headers()
                    return
                n = int(self.headers.get("Content-Length", 0))
                lines = [ln for ln in
                         self.rfile.read(n).decode("utf-8").splitlines()
                         if ln]
                items, errors = [], False
                i = 0
                while i < len(lines):
                    action = json.loads(lines[i])
                    i += 1
                    kind, meta = next(iter(action.items()))
                    idx, _id = meta["_index"], meta["_id"]
                    if _id in fail:
                        errors = True
                        items.append({kind: {
                            "_index": idx, "_id": _id, "status": 429,
                            "error": {"type": "circuit_breaking_exception",
                                      "reason": "simulated"}}})
                        if kind == "index":
                            i += 1  # skip the source line
                        continue
                    if kind == "index":
                        store.setdefault(idx, {})[_id] =                             json.loads(lines[i])
                        i += 1
                        items.append({"index": {"_index": idx, "_id": _id,
                                                "status": 201}})
                    elif kind == "delete":
                        existed = store.get(idx, {}).pop(_id, None)
                        items.append({"delete": {
                            "_index": idx, "_id": _id,
                            "status": 200 if existed else 404}})
                    else:
                        errors = True
                        items.append({kind: {"_index": idx, "_id": _id,
                                             "status": 400,
                                             "error": {"type":
                                                       "illegal_argument"}}})
                body = json.dumps({"took": 1, "errors": errors,
                                   "items": items}).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._srv = http.server.ThreadingHTTPServer((host, port), Handler)
        if tls:
            # one-shot self-signed cert (openssl, the other toys' pattern)
            import os
            import ssl
            import subprocess
            import tempfile

            d = tempfile.mkdtemp(prefix="es-toy-tls-")
            crt, key = os.path.join(d, "server.crt"), os.path.join(
                d, "server.key")
            subprocess.run(
                ["openssl", "req", "-x509", "-newkey", "rsa:2048",
                 "-nodes", "-keyout", key, "-out", crt, "-days", "2",
                 "-subj", "/CN=127.0.0.1"],
                check=True, capture_output=True)
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(crt, key)
            self._srv.socket = ctx.wrap_socket(self._srv.socket,
                                               server_side=True)
            self.ca_cert = crt
        self.host, self.port = self._srv.server_address
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        daemon=True)

    @property
    def endpoint(self) -> str:
        return "%s%s:%d" % ("https://" if self.tls else "",
                            self.host, self.port)

    def __enter__(self) -> "ToyElasticsearchServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._srv.shutdown()
        self._srv.server_close()
