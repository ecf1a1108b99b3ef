"""Localhost TCP transport for binlog capture bytes — the toy replication
server proving the binlog codec is transport-independent.

The real connector speaks the MySQL replication protocol: a BinaryLogClient
issues COM_BINLOG_DUMP(file, pos) and the server streams raw binlog events
over the socket (reference: flink-cdc-connect/flink-cdc-source-connectors/
flink-connector-mysql-cdc — Debezium's io.debezium.connector.mysql
BinaryLogClient usage). This module keeps that ARCHITECTURE at toy scale
without a mysqld:

- :class:`BinlogTcpServer` serves a directory of binlog files over TCP.
  Protocol (one request per connection, COM_BINLOG_DUMP-shaped):
  client sends ``DUMP <file> <pos>\\n`` (``DUMP * 4`` = from the
  earliest); the server replies, for every file at or after the requested
  one in numeric-suffix order, ``FILE <name> <size>\\n`` + exactly
  ``size`` raw bytes, then ``EOF\\n`` and closes. Transport is
  file-granular: the server always ships whole self-describing files
  (magic + FDE), and record-granular resume stays the CLIENT's job —
  exactly where `decode_binlog`'s ``start_offset`` filter already runs
  (`_keep_record`, `BinlogOffset.java:46-53` semantics).

- :func:`fetch_binlog_files` is the BinaryLogClient analog: it connects,
  requests from a file, and spools what arrives into a local directory —
  after which the ENTIRE existing pipeline (file streaming source, Arrow
  decode, DDL routing, sinks, persisted offsets) runs byte-identically.
  A production deployment would keep the socket open and append to the
  spool as the server rotates files; one fetch per call is enough to
  prove the codec never depended on the filesystem as a transport.

The YAML surface: ``type: mysql-binlog-file`` OR ``type: pgoutput-file``
with ``host``/``port`` instead of ``path`` (composer fetches into a spool
under the checkpoint dir, then composes the normal file pipeline on the
spool). The transport is format-agnostic — it ships whole capture files
in numeric-suffix order — so the same server/client pair stands in for
both a mysqld replication socket and a Postgres replication slot.
"""

from __future__ import annotations

import os
import socket
import socketserver
import threading

from ..common.atomic import atomic_write
from .mysql_binlog import _file_sort_key

_MAX_HEADER = 4096


class _Handler(socketserver.StreamRequestHandler):
    def handle(self) -> None:  # pragma: no cover - exercised via server
        line = self.rfile.readline(_MAX_HEADER).decode("ascii").strip()
        parts = line.split()
        if len(parts) != 3 or parts[0] != "DUMP":
            self.wfile.write(b"ERR bad request\n")
            return
        from_file = parts[1]
        server: BinlogTcpServer = self.server.binlog_server  # type: ignore
        for name, data in server.files_from(from_file):
            self.wfile.write(b"FILE %s %d\n" % (name.encode("ascii"),
                                                len(data)))
            self.wfile.write(data)
        self.wfile.write(b"EOF\n")


class _TcpServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class BinlogTcpServer:
    """Serve a directory of binlog files over localhost TCP."""

    def __init__(self, directory: str, host: str = "127.0.0.1",
                 port: int = 0):
        self.directory = directory
        self._srv = _TcpServer((host, port), _Handler)
        self._srv.binlog_server = self  # type: ignore[attr-defined]
        self.host, self.port = self._srv.server_address[:2]
        self._thread = threading.Thread(target=self._srv.serve_forever,
                                        daemon=True)

    def files_from(self, from_file: str):
        """(name, bytes) for every file at or after ``from_file`` in
        numeric-suffix order (``*`` = all)."""
        names = sorted(
            (n for n in os.listdir(self.directory)
             if os.path.isfile(os.path.join(self.directory, n))),
            key=_file_sort_key)
        for n in names:
            if from_file != "*" and _file_sort_key(n) < _file_sort_key(
                    from_file):
                continue
            with open(os.path.join(self.directory, n), "rb") as f:
                yield n, f.read()

    def start(self) -> "BinlogTcpServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()

    def __enter__(self) -> "BinlogTcpServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()


def _read_exact(sock_file, n: int) -> bytes:
    buf = bytearray()
    while len(buf) < n:
        chunk = sock_file.read(n - len(buf))
        if not chunk:
            raise ValueError(
                "binlog TCP stream truncated: expected %d more bytes"
                % (n - len(buf)))
        buf += chunk
    return bytes(buf)


def fetch_binlog_files(host: str, port: int, spool_dir: str,
                       from_file: str | None = None,
                       timeout: float = 30.0) -> list[str]:
    """Request binlog files from a :class:`BinlogTcpServer` and spool them
    locally. Returns the names of files actually (re)written, in numeric
    order — files already present with identical bytes are skipped and
    are NOT in the return value (a binlog file only ever grows, and only
    the last one — re-fetching a rotated file is a no-op). Same-size
    files are content-compared, not trusted: a regenerated fixture with
    an equal byte count must not serve stale bytes."""
    os.makedirs(spool_dir, exist_ok=True)
    fetched: list[str] = []
    with socket.create_connection((host, port), timeout=timeout) as sock:
        f = sock.makefile("rb")
        sock.sendall(b"DUMP %s 4\n" % (from_file or "*").encode("ascii"))
        while True:
            header = f.readline(_MAX_HEADER).decode("ascii").strip()
            if header == "EOF":
                break
            if header.startswith("ERR") or not header.startswith("FILE "):
                raise ValueError("binlog TCP server error: %r" % header)
            _, name, size = header.split()
            if "/" in name or name.startswith("."):
                raise ValueError("unsafe file name from server: %r" % name)
            data = _read_exact(f, int(size))
            dest = os.path.join(spool_dir, name)
            if os.path.exists(dest) and os.path.getsize(dest) == len(data):
                with open(dest, "rb") as existing:
                    if existing.read() == data:
                        continue
            atomic_write(dest, data)  # readers never see a partial file
            fetched.append(name)
    return sorted(fetched, key=_file_sort_key)
