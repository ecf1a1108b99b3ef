"""Doris / StarRocks changelog sinks — the Stream Load wire format.

Parity targets:
- StarRocks: ``EventRecordSerializationSchema`` (EventRecordSerialization-
  Schema.java:112-136) — each change event renders as one JSON row carrying
  every physical column plus ``"__op": 0`` (upsert) / ``"__op": 1``
  (delete); rows batch into a Stream Load request body (JSON-lines).
- Doris: ``DorisEventSerializer`` (DorisEventSerializer.java:105-118) —
  identical shape with the delete marker spelled
  ``"__DORIS_DELETE_SIGN__": "0"/"1"``; DDL goes through
  ``DorisMetadataApplier`` (DorisMetadataApplier.java:117-141), which
  renders per-event ALTER statements (Doris speaks the MySQL dialect).

Spark-first shape: the batch reduces to ONE final image per key, the
JSON-lines body renders entirely JVM-side (``to_json``), giving byte-exact
Stream Load payloads. With no frontend endpoint configured the bodies
spool to ``output_dir/<table>/batch_<id>`` through
:func:`.ddl_spool.spool_batch` (the batch directory appears whole or not
at all and is the replay marker), and the DDL statements append to ``output_dir/<table>/ddl.sql``
(MySQL dialect — what a live Doris/StarRocks applier executes). With a
``frontend`` configured (round 10) the body PUTs to the REAL Stream
Load endpoint ``/api/{db}/{table}/_stream_load`` with a DETERMINISTIC
``label`` — the server's label dedup then provides the same replay
idempotence the spool gets from its batch directories ("Label Already Exists"
is a clean no-op; any other non-Success status raises by name). No
Doris/StarRocks ships in this sandbox, so :class:`ToyStreamLoadFrontend`
speaks the documented API over a real socket (label dedup, per-row
delete signs, an inspectable store) for the e2e tests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..common.atomic import atomic_write
from ..common.events import OP_COL
from ..common.schema import Schema
from ..common.tableid import TableId
from ..sources.base import SEQ_COL
from .base import DataSink, MetadataApplier
from .ddl_spool import DdlSpoolPosition, is_replay, spool_batch, spool_ddl
from .dialects import MySqlDialect


class _StreamLoadMetadataApplier(MetadataApplier):
    """7-event algebra rendered as MySQL-dialect DDL text (Doris/StarRocks
    speak the MySQL protocol) and appended to the table's ddl.sql spool —
    the statements a live SchemaChangeManager executes.  Replay
    idempotence is the exact batch-scoped discipline of
    :mod:`.ddl_spool`: only a crash-replayed group is skipped; genuine
    repeats (TRUNCATE → load → TRUNCATE) keep every statement."""

    def __init__(self, sink: "_StreamLoadSink"):
        self.sink = sink
        self.sql = MySqlDialect()

    def apply_schema_change(self, table_id, event, evolved_schema) -> None:
        tdir = os.path.join(self.sink.output_dir, table_id.identifier())
        stmts = self.sql.ddl_sql(table_id.identifier(), event,
                                 evolved_schema)
        ordinal = self.sink._ddl_pos.next_ordinal(tdir, self.batch_ctx)
        if not is_replay(tdir, self.batch_ctx, ordinal, stmts):
            spool_ddl(tdir, stmts, self.batch_ctx, ordinal)


class _StreamLoadSink(DataSink):
    """Shared Stream Load spool machinery; subclasses define the delete
    marker column."""

    #: (column name, value-for-upsert Column, value-for-delete Column)
    def _op_column(self):  # pragma: no cover - abstract
        raise NotImplementedError

    def __init__(self, output_dir: str | None = None,
                 frontend: str | None = None,
                 label_salt: str | None = None,
                 salt_dir: str | None = None,
                 username: str = "root", password: str = ""):
        if not output_dir and not frontend:
            raise ValueError("need output_dir (local spool) or frontend")
        self.output_dir = output_dir
        self.frontend = frontend
        # Stream Load REQUIRES HTTP basic auth on the PUT (the public
        # API's curl examples all carry -u user:passwd); Doris defaults
        # to root/empty, mirrored here
        self.auth = (username, password)
        # label salting (advice r10): Stream Load labels persist
        # server-side, so a purely batch-id-deterministic label makes a
        # CHECKPOINT RESET (batch ids restart at 0 with different data)
        # collide with the old run's labels — "Label Already Exists"
        # silently skips genuinely new batches. The salt is pinned to
        # the checkpoint's lifetime: read-or-created under ``salt_dir``
        # (the pipeline checkpoint dir), so crash replays of the SAME
        # checkpoint reuse it (dedup works) while a fresh checkpoint
        # mints a new one (no stale collision).
        self._label_salt = label_salt
        self._salt_dir = salt_dir
        self._ddl_pos = DdlSpoolPosition()

    def _resolve_label_salt(self) -> str:
        if self._label_salt is None:
            if self._salt_dir is None:
                self._label_salt = ""  # explicit legacy behavior
            else:
                import uuid

                os.makedirs(self._salt_dir, exist_ok=True)
                path = os.path.join(self._salt_dir, "streamload_run_id")
                try:
                    with open(path, encoding="ascii") as f:
                        self._label_salt = f.read().strip()
                except OSError:
                    salt = uuid.uuid4().hex[:12]
                    atomic_write(path, salt + "\n")
                    self._label_salt = salt
        return self._label_salt

    def begin_batch(self, batch_id) -> None:
        self._ddl_pos.reset()

    def metadata_applier(self) -> MetadataApplier:
        if not self.output_dir:
            raise ValueError(
                f"{type(self).__name__}: schema changes need output_dir "
                "(the ddl.sql spool a live SchemaChangeManager executes "
                "over the MySQL protocol) — frontend covers the data "
                "plane only")
        return _StreamLoadMetadataApplier(self)

    def encode_stream_load(self, table_id: TableId, df: DataFrame,
                           schema: Schema) -> DataFrame:
        """Changelog batch -> one JSON-lines string column (``lines``) —
        the exact Stream Load request body."""
        from ..streaming.materialize import latest_image

        pks = [k for k in schema.primary_keys if k in df.columns]
        phys = [c.name for c in schema.columns if c.name in df.columns]
        if OP_COL in df.columns:
            if not pks:
                raise ValueError(
                    f"{type(self).__name__} requires primary keys for "
                    f"{table_id} (delete markers retract by key)")
            final = latest_image(
                df, pks, seq_col=SEQ_COL if SEQ_COL in df.columns else None,
                keep_delete_marker=True)
            op = F.col(OP_COL)
        else:
            final = df
            op = F.lit("+I")
        name, up_val, del_val = self._op_column()
        marker = F.when(op == "-D", del_val).otherwise(up_val).alias(name)
        return final.select(
            F.to_json(F.struct(*[F.col(c) for c in phys], marker))
            .alias("lines"))

    def write(self, table_id: TableId, df: DataFrame, schema: Schema,
              batch_id) -> None:
        if self.frontend:
            body = "\n".join(
                r.lines for r in
                self.encode_stream_load(table_id, df, schema).collect())
            # deterministic label WITHIN a checkpoint lifetime: the
            # server's dedup makes a crash replay of the same batch a
            # clean no-op — the live twin of the spool path's
            # batch-directory marker; the salt keeps fresh checkpoints
            # from colliding with a previous run's labels
            salt = self._resolve_label_salt()
            label = "cdc-%s%s-%s" % (
                table_id.identifier().replace(".", "_"),
                "-" + salt if salt else "", batch_id)
            stream_load_put(self.frontend, table_id, body + "\n", label,
                            auth=self.auth)
            return
        spool_batch(os.path.join(self.output_dir, table_id.identifier(),
                                 f"batch_{batch_id}"),
                    self.encode_stream_load(table_id, df, schema))


def stream_load_put(frontend: str, table_id: TableId, body: str,
                    label: str,
                    auth: "tuple[str, str] | None" = None) -> dict:
    """One Stream Load transaction: HTTP PUT
    ``/api/{db}/{table}/_stream_load`` with the json-lines body and
    HTTP basic auth (the public API requires ``-u user:passwd``;
    the same header rides the FE→BE 307 redirect).
    Response handling per the public API: Status "Success" commits,
    "Label Already Exists" is a replay no-op, anything else raises with
    the server's own Message — a silently failed load is lost data."""
    import base64
    import http.client
    import json

    parts = table_id.identifier().split(".")
    db, table = (parts[-2], parts[-1]) if len(parts) >= 2         else ("default", parts[-1])
    h, _, port = frontend.partition(":")
    conn = http.client.HTTPConnection(h, int(port or 8030), timeout=30)
    path = "/api/%s/%s/_stream_load" % (db, table)
    headers = {"label": label, "format": "json",
               "read_json_by_line": "true",
               "Content-Type": "application/json"}
    if auth is not None:
        headers["Authorization"] = "Basic " + base64.b64encode(
            ("%s:%s" % auth).encode("utf-8")).decode("ascii")
    conn.request("PUT", path, body.encode("utf-8"), headers)
    resp = conn.getresponse()
    data = resp.read()
    if resp.status == 401:
        raise ValueError("stream load refused the credentials (HTTP 401)")
    if resp.status == 307:
        # a real frontend redirects the PUT to a backend
        loc = resp.getheader("Location") or ""
        from urllib.parse import urlparse
        u = urlparse(loc)
        conn2 = http.client.HTTPConnection(u.hostname,
                                           u.port or 8040, timeout=30)
        conn2.request("PUT", u.path + (("?" + u.query) if u.query else ""),
                      body.encode("utf-8"), headers)
        resp = conn2.getresponse()
        data = resp.read()
        if resp.status == 401:
            raise ValueError(
                "stream load backend refused the credentials (HTTP 401)")
    if resp.status != 200:
        raise ValueError("stream load HTTP %d: %s"
                         % (resp.status, data[:300]))
    out = json.loads(data)
    status = out.get("Status")
    if status == "Label Already Exists":
        return out  # replay: the earlier transaction already committed
    if status != "Success":
        raise ValueError("stream load %s: %s"
                         % (status, out.get("Message", "")[:300]))
    return out


class ToyStreamLoadFrontend:
    """A real-socket Stream Load endpoint speaking the documented API:
    PUT ``/api/{db}/{table}/_stream_load``, label dedup ("Label Already
    Exists" on repeats), json-lines rows applied to an in-memory store
    keyed by the declared primary keys, honoring BOTH delete-sign
    dialects (StarRocks ``__op`` 0/1, Doris ``__DORIS_DELETE_SIGN__``
    "0"/"1"). ``redirect=True`` answers the first PUT with the 307
    frontend→backend redirect a real FE issues; ``fail_labels``
    simulates server-side load failures."""

    def __init__(self, tables: dict[str, list[str]],
                 host: str = "127.0.0.1", port: int = 0,
                 redirect: bool = False,
                 fail_labels: set[str] | None = None,
                 auth: "tuple[str, str] | None" = None):
        import base64
        import http.server
        import json
        import threading

        want_auth = (None if auth is None else
                     "Basic " + base64.b64encode(
                         ("%s:%s" % auth).encode()).decode())
        store: dict[str, dict[tuple, dict]] = {}
        labels: set[str] = set()
        self.store = store
        self.labels = labels
        fail = fail_labels or set()

        def respond(handler, code, doc, extra=None):
            body = json.dumps(doc).encode()
            handler.send_response(code)
            for k, v in (extra or {}).items():
                handler.send_header(k, v)
            handler.send_header("Content-Type", "application/json")
            handler.send_header("Content-Length", str(len(body)))
            handler.end_headers()
            handler.wfile.write(body)

        outer = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):
                return

            def do_PUT(self):  # noqa: N802 (stdlib naming)
                if want_auth is not None and \
                        self.headers.get("Authorization") != want_auth:
                    n = int(self.headers.get("Content-Length", 0))
                    self.rfile.read(n)
                    respond(self, 401, {"Status": "Fail",
                                        "Message": "Access denied"})
                    return
                seg = self.path.split("?")[0].strip("/").split("/")
                if len(seg) != 4 or seg[0] != "api"                         or seg[3] != "_stream_load":
                    respond(self, 404, {"Status": "Fail",
                                        "Message": "bad path"})
                    return
                n = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(n)
                if redirect and "be=1" not in self.path:
                    respond(self, 307, {}, extra={
                        "Location": "http://%s:%d%s?be=1"
                        % (outer.host, outer.port, self.path)})
                    return
                label = self.headers.get("label", "")
                if label in fail:
                    respond(self, 200, {"Status": "Fail",
                                        "Message": "simulated -235 "
                                                   "too many versions"})
                    return
                if label in labels:
                    respond(self, 200, {"Status": "Label Already Exists",
                                        "Message": ""})
                    return
                key = "%s.%s" % (seg[1], seg[2])
                pks = tables.get(key)
                if pks is None:
                    respond(self, 200, {"Status": "Fail",
                                        "Message": "unknown table "
                                                   + key})
                    return
                tbl = store.setdefault(key, {})
                rows = 0
                for line in raw.decode("utf-8").splitlines():
                    if not line:
                        continue
                    row = json.loads(line)
                    delete = (str(row.pop("__DORIS_DELETE_SIGN__", "0"))
                              == "1"
                              or row.pop("__op", 0) == 1)
                    k = tuple(row[p] for p in pks)
                    if delete:
                        tbl.pop(k, None)
                    else:
                        tbl[k] = row
                    rows += 1
                labels.add(label)
                respond(self, 200, {"Status": "Success",
                                    "NumberLoadedRows": rows,
                                    "Label": label})

        self._srv = http.server.ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._srv.server_address
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        daemon=True)

    @property
    def endpoint(self) -> str:
        return "%s:%d" % (self.host, self.port)

    def __enter__(self) -> "ToyStreamLoadFrontend":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._srv.shutdown()
        self._srv.server_close()


class StarRocksStreamLoadSink(_StreamLoadSink):
    """StarRocks primary-key-model Stream Load: ``__op`` 0=upsert,
    1=delete (EventRecordSerializationSchema.java:136)."""

    def _op_column(self):
        return "__op", F.lit(0), F.lit(1)


class DorisStreamLoadSink(_StreamLoadSink):
    """Doris unique-key-model Stream Load: ``__DORIS_DELETE_SIGN__``
    "0"=upsert, "1"=delete (DorisEventSerializer addDeleteSign)."""

    def _op_column(self):
        return "__DORIS_DELETE_SIGN__", F.lit("0"), F.lit("1")
