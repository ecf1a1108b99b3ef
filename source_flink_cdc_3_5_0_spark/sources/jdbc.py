"""JDBC chunked snapshot source — the parallel backfill path.

Parity target: the incremental-snapshot framework's chunk splitter
(flink-cdc-base/.../assigner/splitter/JdbcSourceChunkSplitter.java):

- ``distributionFactor = (max - min + 1) / rowCount`` rounded CEILING to 4dp
  (:238-249);
- data is "evenly distributed" iff factor ∈ [lower=0.05, upper=1000.0]
  (defaults from JdbcSourceOptions); then chunks are fixed ranges of
  ``dynamicChunkSize = max(int(distributionFactor * chunkSize), 1)`` key
  units (:411-440, splitEvenlySizedChunks);
- otherwise chunks are query-driven unevenly-sized: walk ``SELECT MAX(pk)
  FROM (SELECT pk FROM t WHERE pk >= ? ORDER BY pk ASC LIMIT chunkSize)``
  (``splitUnevenlySizedChunks`` :482-508, ``nextChunkEnd`` :510-531) —
  ported faithfully in ``split_unevenly_sized_chunks`` with injectable
  query callables (live JDBC in production, a key histogram when the
  engine already scanned the table, DuckDB in tests);
- default chunk size 8096 rows (MySqlDataSourceOptions
  ``scan.incremental.snapshot.chunk.size``).

The chunk list materializes as ``spark.read.jdbc(predicates=[...])`` — one
Spark partition per chunk, exactly the reference's per-chunk parallel read.
The binlog low/high-watermark consistency protocol (:IncrementalSourceScan
Fetcher) is intentionally NOT replicated: that protocol exists to stitch a
chunk snapshot with a concurrently-moving binlog; our streaming mode stitches
at the micro-batch barrier instead (backfill batch then stream from the
captured offset).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_CEILING, Decimal

DEFAULT_CHUNK_SIZE = 8096
DISTRIBUTION_FACTOR_UPPER = 1000.0
DISTRIBUTION_FACTOR_LOWER = 0.05


def distribution_factor(min_key: int, max_key: int, row_count: int) -> float:
    """Parity: ``calculateDistributionFactor`` (:238-249)."""
    if row_count == 0:
        return float("inf")
    diff = Decimal(max_key) - Decimal(min_key) + 1
    return float((diff / Decimal(row_count)).quantize(Decimal("0.0001"), rounding=ROUND_CEILING))


def dynamic_chunk_size(min_key: int, max_key: int, row_count: int,
                       chunk_size: int = DEFAULT_CHUNK_SIZE,
                       factor_lower: float = DISTRIBUTION_FACTOR_LOWER,
                       factor_upper: float = DISTRIBUTION_FACTOR_UPPER) -> int | None:
    """Key-range width per chunk if evenly distributed, else None
    (parity: ``getDynamicChunkSize`` returning -1)."""
    f = distribution_factor(min_key, max_key, row_count)
    if factor_lower <= f <= factor_upper:
        return max(int(f * chunk_size), 1)
    return None


@dataclass(frozen=True)
class ChunkRange:
    """[start, end) on the split column; None = unbounded side."""

    start: int | None
    end: int | None

    def predicate(self, col: str) -> str:
        if self.start is None and self.end is None:
            return "1=1"
        if self.start is None:
            return f"{col} < {self.end}"
        if self.end is None:
            return f"{col} >= {self.start}"
        return f"{col} >= {self.start} AND {col} < {self.end}"


def split_evenly_sized_chunks(min_key: int, max_key: int, row_count: int,
                              chunk_size: int = DEFAULT_CHUNK_SIZE) -> list[ChunkRange]:
    """Parity: ``splitEvenlySizedChunks`` — fixed-width key ranges, with the
    first/last chunks open-ended (captures keys arriving outside the
    snapshot min/max, same as ChunkRange.all() semantics at the edges)."""
    if min_key == max_key or row_count == 0:
        return [ChunkRange(None, None)]
    width = dynamic_chunk_size(min_key, max_key, row_count, chunk_size)
    if width is None:
        # no-data-access fallback when the factor is out of bounds and the
        # caller can supply neither a histogram nor live-query callables
        # for the faithful uneven walk (split_unevenly_sized_chunks):
        # bounded range split into rowCount/chunkSize parts, skew healed
        # only partially by AQE coalescing
        n = max(1, math.ceil(row_count / chunk_size))
        step = max(1, math.ceil((max_key - min_key + 1) / n))
        width = step
    chunks: list[ChunkRange] = []
    start = None
    next_end = min_key + width
    while next_end <= max_key:
        chunks.append(ChunkRange(start, next_end))
        start = next_end
        next_end += width
    chunks.append(ChunkRange(start, None))
    return chunks


def split_unevenly_sized_chunks(next_chunk_max, next_min,
                                min_key: int, max_key: int,
                                chunk_size: int = DEFAULT_CHUNK_SIZE) -> list[ChunkRange]:
    """Query-driven uneven chunk split — faithful port of
    ``splitUnevenlySizedChunks`` (JdbcSourceChunkSplitter.java:482-508) +
    ``nextChunkEnd`` (:510-531): used when the distribution factor is out
    of bounds, i.e. the key space is sparse/skewed and fixed-width ranges
    would yield pathological partition sizes.

    ``next_chunk_max(lower_inclusive)`` must return
    ``MAX(pk) of (SELECT pk WHERE pk >= lower ORDER BY pk ASC LIMIT
    chunk_size)`` — the reference's ``queryNextChunkMax``;
    ``next_min(lower_exclusive)`` must return ``MIN(pk) WHERE pk > lower``
    (``queryMin``), used when a single key fills a whole chunk window so
    the boundary wouldn't advance. Both are injectable: issue real JDBC
    queries in production (exactly the reference's round-trips), or serve
    from a key histogram the engine computed distributively (one
    groupBy(pk).count() shuffle — see ``histogram_walk_callables``).

    Boundary semantics: each chunk is ``[start, end)``; the unbounded tail
    ``[last_boundary, null)`` is inserted at index 0, mirroring the
    reference's ``splits.add(0, ChunkRange.of(chunkStart, null))``
    (:506-507 — chunk order doesn't affect the parallel read, but parity
    includes the quirk)."""

    def _next_chunk_end(prev):
        end = next_chunk_max(prev)
        if end == prev:
            # a single key fills the window; advance to the next key so
            # chunk start and end are never equal (nextChunkEnd :521-525)
            end = next_min(end)
        if end is None or end >= max_key:
            return None
        return end

    splits: list[ChunkRange] = []
    chunk_start = None
    chunk_end = _next_chunk_end(min_key)
    while chunk_end is not None:
        splits.append(ChunkRange(chunk_start, chunk_end))
        chunk_start = chunk_end
        chunk_end = _next_chunk_end(chunk_end)
    splits.insert(0, ChunkRange(chunk_start, None))
    return splits


def quote_identifier(name: str, quote: str = '"') -> str:
    """ANSI-quote an identifier, each dot-separated part separately —
    parity with the reference's ``quotedTableIdString`` (reserved words and
    special characters in config-sourced table/column names must not break
    or inject into the generated SQL)."""
    return ".".join(quote + part.replace(quote, quote * 2) + quote
                    for part in name.split("."))


def quote_char_for_url(url: str) -> str:
    """Identifier quote for a JDBC url: MySQL's default sql_mode treats
    double quotes as STRING literals (no ANSI_QUOTES), so mysql/mariadb
    get backticks; everything else speaks ANSI double quotes."""
    return "`" if url.lower().startswith(("jdbc:mysql", "jdbc:mariadb")) else '"'


def sql_walk_callables(execute_scalar, table: str, split_column: str,
                       chunk_size: int = DEFAULT_CHUNK_SIZE,
                       quote: str = '"'):
    """(next_chunk_max, next_min) rendering the reference's per-chunk SQL
    (``queryNextChunkMax`` / ``queryMin``) and executing it via an injected
    ``execute_scalar(sql) -> int | None`` — ``spark.read.jdbc`` in
    production (:meth:`JdbcSnapshotSource.jdbc_walk_callables`), a DB-API
    cursor in tests. Identifiers are quoted with the dialect's quote char
    (``quote_char_for_url``); bounds are forced to int before
    interpolation."""
    col = quote_identifier(split_column, quote)
    t = quote_identifier(table, quote)

    def next_chunk_max(lower_inclusive: int):
        return execute_scalar(
            f"SELECT MAX({col}) m FROM (SELECT {col} FROM {t} "
            f"WHERE {col} >= {int(lower_inclusive)} ORDER BY {col} ASC "
            f"LIMIT {int(chunk_size)}) w")

    def next_min(lower_exclusive: int):
        return execute_scalar(
            f"SELECT MIN({col}) m FROM {t} WHERE {col} > {int(lower_exclusive)}")

    return next_chunk_max, next_min


def histogram_walk_callables(pairs, chunk_size: int = DEFAULT_CHUNK_SIZE):
    """Build (next_chunk_max, next_min) walk callables from a sorted
    ``[(key, row_count), ...]`` histogram — the engine-side replacement for
    the reference's per-chunk JDBC round-trips when the key histogram is
    already available from a distributed groupBy (one shuffle, no driver
    loop against the database). Driver memory is O(distinct keys); for key
    spaces too large to collect, fall back to the JDBC-query callables or
    the even split."""
    import bisect

    keys = [k for k, _ in pairs]
    cum = []
    total = 0
    for _, c in pairs:
        total += c
        cum.append(total)  # rows with key <= keys[i]

    def rows_below(key: int) -> int:
        i = bisect.bisect_left(keys, key)
        return cum[i - 1] if i > 0 else 0

    def next_chunk_max(lower_inclusive: int):
        # row window = the first chunk_size rows with key >= lower; its max
        # key = the key owning row index (rows_below(lower) + chunk_size - 1)
        target = rows_below(lower_inclusive) + chunk_size - 1
        if target >= total:
            return keys[-1]
        return keys[bisect.bisect_right(cum, target)]

    def next_min(lower_exclusive: int):
        i = bisect.bisect_right(keys, lower_exclusive)
        return keys[i] if i < len(keys) else None

    return next_chunk_max, next_min


def split_uneven_from_histogram(pairs, chunk_size: int = DEFAULT_CHUNK_SIZE) -> list[ChunkRange]:
    """Uneven walk served entirely from a sorted (key, count) histogram."""
    if not pairs:
        return [ChunkRange(None, None)]
    next_chunk_max, next_min = histogram_walk_callables(pairs, chunk_size)
    return split_unevenly_sized_chunks(
        next_chunk_max, next_min, pairs[0][0], pairs[-1][0], chunk_size)


def split_chunks(min_key: int, max_key: int, row_count: int,
                 chunk_size: int = DEFAULT_CHUNK_SIZE,
                 histogram=None) -> list[ChunkRange]:
    """Strategy dispatch, parity with ``trySplitAllEvenlySizedChunks``
    (:333-357): even fixed-width ranges when the distribution factor is in
    bounds, else the query-driven uneven walk (from ``histogram`` when
    provided; callers with live JDBC use ``split_unevenly_sized_chunks``
    with real query callables)."""
    if min_key == max_key or row_count == 0:
        return [ChunkRange(None, None)]
    if dynamic_chunk_size(min_key, max_key, row_count, chunk_size) is not None:
        return split_evenly_sized_chunks(min_key, max_key, row_count, chunk_size)
    if histogram is not None:
        return split_uneven_from_histogram(histogram, chunk_size)
    return split_evenly_sized_chunks(min_key, max_key, row_count, chunk_size)


@dataclass(frozen=True)
class StartupOptions:
    """Parity: ``StartupOptions`` (flink-cdc-base/.../options/StartupOptions.
    java:38-95): initial | snapshot | earliest | latest | committed |
    specific_offset | timestamp."""

    mode: str = "initial"
    specific_offset: str | None = None
    timestamp_ms: int | None = None

    def kafka_starting_offsets(self) -> str:
        if self.mode in ("initial", "earliest"):
            return "earliest"
        if self.mode == "latest":
            return "latest"
        if self.mode == "specific_offset" and self.specific_offset:
            return self.specific_offset
        if self.mode == "timestamp":
            raise ValueError("use startingTimestamp option with timestamp mode")
        return "earliest"


class JdbcSnapshotSource:
    """Chunk-parallel JDBC snapshot (``spark.read.jdbc`` with one predicate
    per chunk). Requires a JDBC driver jar on the Spark classpath; chunk
    *planning* is pure and unit-tested without a database."""

    def __init__(self, url: str, table: str, split_column: str,
                 properties: dict[str, str] | None = None,
                 chunk_size: int = DEFAULT_CHUNK_SIZE):
        self.url = url
        self.table = table
        self.split_column = split_column
        self.properties = properties or {}
        self.chunk_size = chunk_size

    def jdbc_walk_callables(self, spark):
        """(next_chunk_max, next_min) issuing the reference's actual
        per-chunk queries over JDBC (queryNextChunkMax / queryMin) — the
        production path for the uneven walk when no key histogram is at
        hand. One driver round-trip per chunk, exactly like the
        reference. Statement text comes from :func:`sql_walk_callables`,
        which tests drive against a real database via a DB-API cursor."""

        def _scalar(q):
            row = spark.read.jdbc(self.url, f"({q}) s",
                                  properties=self.properties).collect()[0]
            v = row[0]
            return None if v is None else int(v)

        return sql_walk_callables(_scalar, self.table, self.split_column,
                                  self.chunk_size,
                                  quote=quote_char_for_url(self.url))

    def plan_predicates(self, min_key: int, max_key: int, row_count: int,
                        histogram=None, spark=None) -> list[str]:
        """Chunk predicates via strategy dispatch: even fixed-width when the
        distribution factor is in bounds; otherwise the query-driven uneven
        walk — served from ``histogram`` if given, else via live JDBC
        round-trips if ``spark`` is given, else the bounded range split +
        AQE coalesce fallback."""
        if (histogram is None and spark is not None
                and min_key != max_key and row_count > 0
                and dynamic_chunk_size(min_key, max_key, row_count,
                                       self.chunk_size) is None):
            ncm, nm = self.jdbc_walk_callables(spark)
            chunks = split_unevenly_sized_chunks(ncm, nm, min_key, max_key,
                                                 self.chunk_size)
        else:
            chunks = split_chunks(min_key, max_key, row_count,
                                  self.chunk_size, histogram)
        return [c.predicate(self.split_column) for c in chunks]

    def read(self, spark, min_key: int, max_key: int, row_count: int):
        preds = self.plan_predicates(min_key, max_key, row_count, spark=spark)
        return spark.read.jdbc(self.url, self.table, predicates=preds,
                               properties=self.properties)


class JdbcPipelineSource:
    """YAML ``mysql`` / ``postgres`` pipeline-source analog.

    Parity target: ``MySqlDataSourceFactory.java`` /
    ``PostgresDataSourceFactory.java`` option surface — hostname, port,
    username, password, ``tables`` (comma list of ``db.table``; regex
    patterns need live-catalog discovery, which is environment-gated like
    the reference's SHOW TABLES scan). Each table becomes a chunk-parallel
    ``spark.read.jdbc`` snapshot split on its PK / declared chunk key
    (``scan.incremental.snapshot.chunk.key-column``), stats-driven exactly
    like ``JdbcSourceChunkSplitter``.

    This is the bounded (``startup-mode: snapshot``) path; ``initial`` mode
    composes with the streaming runner: this snapshot backfills via
    ``StreamingPipeline.initial_load`` and the binlog arrives through the
    Debezium/Kafka stream source (SURVEY §2.2 mapping).
    """

    DIALECT_PORTS = {"mysql": 3306, "postgres": 5432}

    def __init__(self, url: str, tables: list[str],
                 split_columns: dict[str, str],
                 properties: dict[str, str] | None = None,
                 chunk_size: int = DEFAULT_CHUNK_SIZE,
                 namespace: str | None = None):
        self.url = url
        self.table_names = tables
        self.split_columns = split_columns
        self.properties = properties or {}
        self.chunk_size = chunk_size
        self.namespace = namespace

    @classmethod
    def from_options(cls, dialect: str, opts: dict[str, str]) -> "JdbcPipelineSource":
        """Translate reference YAML options to a JDBC source. ``jdbc-url``
        overrides the hostname/port construction."""
        if dialect not in cls.DIALECT_PORTS:
            raise ValueError(f"unsupported jdbc dialect {dialect!r}")
        url = opts.get("jdbc-url")
        if not url:
            host = opts.get("hostname", "localhost")
            port = int(opts.get("port", cls.DIALECT_PORTS[dialect]))
            scheme = "mysql" if dialect == "mysql" else "postgresql"
            url = f"jdbc:{scheme}://{host}:{port}"
        tables = [t.strip() for t in opts.get("tables", "").split(",") if t.strip()]
        if not tables:
            raise ValueError("'tables' is required (comma list of db.table)")
        import json

        pks = json.loads(opts.get("primary-keys", "{}"))
        key_col = opts.get("scan.incremental.snapshot.chunk.key-column")
        split = {}
        for t in tables:
            cols = pks.get(t)
            split[t] = key_col or (cols[0] if cols else None)
            if split[t] is None:
                raise ValueError(
                    f"no split column for {t}: declare primary-keys or "
                    "scan.incremental.snapshot.chunk.key-column")
        props = {"user": opts.get("username", ""), "password": opts.get("password", "")}
        if dialect == "mysql":
            props.setdefault("driver", "com.mysql.cj.jdbc.Driver")
        else:
            props.setdefault("driver", "org.postgresql.Driver")
        chunk = int(opts.get("scan.incremental.snapshot.chunk.size", DEFAULT_CHUNK_SIZE))
        return cls(url, tables, split, props, chunk,
                   namespace=opts.get("namespace", dialect))

    # -- DataSource surface (imports deferred: this file is also used for
    # pure chunk-math tests with no Spark session) ------------------------
    def _table_id(self, name: str):
        from ..common.tableid import TableId

        parts = name.split(".")
        if len(parts) == 1:
            return TableId.parse(f"{self.namespace}..{name}")
        return TableId.parse(f"{self.namespace}.{name}")

    def _stats(self, spark, table: str) -> tuple[int, int, int]:
        col = self.split_columns[table]
        q = (f"(SELECT MIN({col}) AS mn, MAX({col}) AS mx, COUNT(*) AS cnt "
             f"FROM {table}) s")
        row = spark.read.jdbc(self.url, q, properties=self.properties).collect()[0]
        return int(row["mn"] or 0), int(row["mx"] or 0), int(row["cnt"] or 0)

    def create_table_events(self, spark):
        from ..common.events import CreateTableEvent
        from ..common.schema import Schema

        out = []
        for t in self.table_names:
            st = spark.read.jdbc(self.url, t, properties=self.properties).schema
            pk = self.split_columns[t]
            out.append(CreateTableEvent(
                self._table_id(t),
                Schema.from_struct_type(st, primary_keys=(pk,) if pk else ())))
        return out

    def batches(self, spark):
        from .base import ChangeBatch, attach_envelope

        out = []
        for t in self.table_names:
            mn, mx, cnt = self._stats(spark, t)
            inner = JdbcSnapshotSource(self.url, t, self.split_columns[t],
                                       self.properties, self.chunk_size)
            df = inner.read(spark, mn, mx, cnt)
            out.append(ChangeBatch(self._table_id(t), [], attach_envelope(df)))
        yield out
