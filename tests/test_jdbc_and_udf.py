"""JDBC chunk-splitter math (mirrors JdbcSourceChunkSplitter semantics),
UDF pipeline registration, AI model functions."""

import pytest
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.sources.jdbc import (
    ChunkRange,
    DEFAULT_CHUNK_SIZE,
    StartupOptions,
    distribution_factor,
    dynamic_chunk_size,
    split_chunks,
    split_evenly_sized_chunks,
    quote_identifier,
    split_uneven_from_histogram,
    split_unevenly_sized_chunks,
    sql_walk_callables,
    JdbcSnapshotSource,
)


class TestChunkSplitter:
    def test_distribution_factor(self):
        # dense keys 1..1000 over 1000 rows -> factor 1.0
        assert distribution_factor(1, 1000, 1000) == 1.0
        # sparse: range 10x rows
        assert distribution_factor(0, 9999, 1000) == 10.0
        # ceiling rounding at 4 dp (reference ROUND_CEILING)
        assert distribution_factor(1, 3, 7) == 0.4286
        assert distribution_factor(0, 10, 0) == float("inf")

    def test_dynamic_chunk_size(self):
        # factor 1.0 -> chunk width == chunk size
        assert dynamic_chunk_size(1, 8096 * 10, 8096 * 10) == 8096
        # sparse factor 10 -> width 10x
        assert dynamic_chunk_size(0, 80959, 8096) == 80960
        # absurdly sparse (factor > 1000) -> uneven (None)
        assert dynamic_chunk_size(0, 10_000_000, 100) is None
        # ultra dense (factor < 0.05): duplicate-heavy key -> uneven
        assert dynamic_chunk_size(1, 10, 100000) is None

    def test_split_even(self):
        chunks = split_evenly_sized_chunks(1, 25, 25, chunk_size=10)
        # width 10: (-inf,11) [11,21) [21,+inf)
        assert chunks == [ChunkRange(None, 11), ChunkRange(11, 21), ChunkRange(21, None)]
        preds = [c.predicate("id") for c in chunks]
        assert preds[0] == "id < 11"
        assert preds[1] == "id >= 11 AND id < 21"
        assert preds[2] == "id >= 21"

    def test_split_single_row_or_empty(self):
        assert split_evenly_sized_chunks(5, 5, 1) == [ChunkRange(None, None)]
        assert split_evenly_sized_chunks(0, 0, 0) == [ChunkRange(None, None)]

    def test_uneven_fallback_bounded_parts(self):
        # factor > 1000 -> fallback still yields ~rowcount/chunk_size parts
        chunks = split_evenly_sized_chunks(0, 10_000_000, 100, chunk_size=10)
        assert len(chunks) == 10

    def test_plan_predicates_cover_domain(self):
        src = JdbcSnapshotSource("jdbc:mysql://h/db", "t", "id", chunk_size=100)
        preds = src.plan_predicates(1, 1000, 1000)
        assert preds[0].startswith("id < ")
        assert preds[-1].startswith("id >= ")
        assert len(preds) == 10

    def test_uneven_walk_matches_live_sql(self):
        """The histogram-served walk must agree with callables issuing the
        reference's ACTUAL SQL (queryNextChunkMax / queryMin) against a
        database — DuckDB stands in for the JDBC source."""
        import duckdb
        from collections import Counter

        # skewed key space: dense cluster + sparse quadratic tail + dups
        keys = ([k for k in range(100, 150) for _ in range(3)]
                + [k * k for k in range(20, 90)])
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT unnest(?::BIGINT[]) AS k", [keys])
        cs = 37

        def sql_next_chunk_max(lower):
            return con.execute(
                "SELECT max(k) FROM (SELECT k FROM t WHERE k >= ? "
                "ORDER BY k ASC LIMIT ?)", [lower, cs]).fetchone()[0]

        def sql_next_min(lower):
            return con.execute(
                "SELECT min(k) FROM t WHERE k > ?", [lower]).fetchone()[0]

        mn, mx = min(keys), max(keys)
        via_sql = split_unevenly_sized_chunks(
            sql_next_chunk_max, sql_next_min, mn, mx, chunk_size=cs)
        hist = sorted(Counter(keys).items())
        via_hist = split_uneven_from_histogram(hist, chunk_size=cs)
        assert via_sql == via_hist
        # reference quirk: unbounded tail at index 0 (:506-507)
        assert via_sql[0].end is None
        # chunks partition the key space: every row lands in exactly 1 chunk
        for k in set(keys):
            hits = [c for c in via_sql
                    if (c.start is None or k >= c.start)
                    and (c.end is None or k < c.end)]
            assert len(hits) == 1
        # every bounded chunk holds <= chunk_size rows
        n_in = lambda c: sum(1 for k in keys  # noqa: E731
                             if (c.start is None or k >= c.start)
                             and (c.end is None or k < c.end))
        assert all(n_in(c) <= cs for c in via_sql if c.end is not None)

    def test_uneven_walk_through_source_sql_callables(self, tmp_path):
        """Drive the walk through the SOURCE'S OWN generated SQL
        (sql_walk_callables — the statements jdbc_walk_callables ships to
        spark.read.jdbc) against a live sqlite file, and assert chunk
        parity with the histogram-served walk.  The split column is a
        reserved word to prove the identifier quoting holds."""
        import sqlite3
        from collections import Counter

        keys = ([k for k in range(100, 150) for _ in range(3)]
                + [k * k for k in range(20, 90)] + [7] * 55)
        db = str(tmp_path / "walk.db")
        con = sqlite3.connect(db)
        con.execute('CREATE TABLE "select from" ("order" INTEGER)')
        con.executemany('INSERT INTO "select from" VALUES (?)',
                        [(k,) for k in keys])
        con.commit()

        def scalar(sql):
            v = con.execute(sql).fetchone()[0]
            return None if v is None else int(v)

        cs = 37
        ncm, nm = sql_walk_callables(scalar, "select from", "order",
                                     chunk_size=cs)
        via_sql = split_unevenly_sized_chunks(ncm, nm, min(keys), max(keys),
                                              chunk_size=cs)
        via_hist = split_uneven_from_histogram(
            sorted(Counter(keys).items()), chunk_size=cs)
        con.close()
        assert via_sql == via_hist
        assert via_sql[0].end is None  # tail-at-index-0 reference quirk
        for k in set(keys):  # chunks partition the key space
            hits = [c for c in via_sql
                    if (c.start is None or k >= c.start)
                    and (c.end is None or k < c.end)]
            assert len(hits) == 1

    def test_quote_identifier(self):
        assert quote_identifier("order") == '"order"'
        assert quote_identifier("db.t") == '"db"."t"'
        assert quote_identifier('we"ird') == '"we""ird"'
        assert quote_identifier("x; DROP TABLE t") == '"x; DROP TABLE t"'

    def test_uneven_walk_hot_key_advances_boundary(self):
        """A single key with more duplicates than chunk_size must not stall
        the walk (nextChunkEnd's queryMin escape, :521-525)."""
        keys = [5] * 100 + list(range(1000, 1020))
        from collections import Counter

        chunks = split_uneven_from_histogram(
            sorted(Counter(keys).items()), chunk_size=10)
        # first bounded chunk is the hot key alone: [None, next-key)
        bounded = [c for c in chunks if c.end is not None]
        assert bounded[0] == ChunkRange(None, 1000)
        for k in set(keys):
            hits = [c for c in chunks
                    if (c.start is None or k >= c.start)
                    and (c.end is None or k < c.end)]
            assert len(hits) == 1

    def test_split_chunks_dispatch(self):
        # in-bounds factor -> even split regardless of histogram
        even = split_chunks(1, 1000, 1000, chunk_size=100)
        assert even == split_evenly_sized_chunks(1, 1000, 1000, chunk_size=100)
        # out-of-bounds factor (cubic keys: range/count > 1000) + histogram
        # -> uneven walk
        hist = [(k ** 3, 1) for k in range(1, 200)]
        uneven = split_chunks(1, 199 ** 3, 199, chunk_size=10, histogram=hist)
        assert uneven == split_uneven_from_histogram(hist, chunk_size=10)
        # walk stride is chunk_size-1 (the boundary row re-enters the next
        # window, WHERE pk >= boundary): 199 distinct keys / stride 9 ->
        # 21 bounded chunks + the unbounded tail at index 0
        assert uneven[0].end is None and len(uneven) == 22

    def test_startup_options(self):
        assert StartupOptions("initial").kafka_starting_offsets() == "earliest"
        assert StartupOptions("latest").kafka_starting_offsets() == "latest"
        assert StartupOptions("specific_offset", specific_offset='{"t":{"0":42}}') \
            .kafka_starting_offsets() == '{"t":{"0":42}}'


def test_udf_pipeline(spark, tmp_path):
    """YAML user-defined-function registered and callable in a projection
    (parity: FlinkPipelineUdfITCase)."""
    from source_flink_cdc_3_5_0_spark.common import (Column, CreateTableEvent,
                                                     DataChangeEvent, Schema, TableId)
    from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

    yaml_text = """
source: {type: values}
sink: {type: values}
transform:
  - source-table: a.b.\\.*
    projection: "k, fmt(v) AS fv"
pipeline:
  user-defined-function:
    - name: fmt
      classpath: tests.udf_fixtures:format_val
"""
    tbl = TableId.parse("a.b.t")
    schema = Schema.of(Column("k", T.IntegerType(), False), Column("v", T.IntegerType()),
                       primary_keys=["k"])
    events = [CreateTableEvent(tbl, schema),
              DataChangeEvent.insert(tbl, (1, 10)),
              DataChangeEvent.insert(tbl, (2, 20))]
    sink = MemorySink()
    pdef = parse_yaml_pipeline(yaml_text)
    PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()
    assert sink.snapshot(tbl) == ["1, v=10", "2, v=20"]


def test_ai_model_functions(spark):
    """GET_EMBEDDING / AI_CHAT_PREDICT registered from the model block and
    usable in transform projections (fake deterministic backends)."""
    from source_flink_cdc_3_5_0_spark.common import (Column, CreateTableEvent,
                                                     DataChangeEvent, Schema, TableId)
    from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

    yaml_text = """
source: {type: values}
sink: {type: values}
transform:
  - source-table: a.b.\\.*
    projection: "k, AI_CHAT_PREDICT(txt) AS resp"
pipeline:
  model:
    - model-name: AI_CHAT_PREDICT
      model: gpt-fake
"""
    tbl = TableId.parse("a.b.docs")
    schema = Schema.of(Column("k", T.IntegerType(), False), Column("txt", T.StringType()),
                       primary_keys=["k"])
    events = [CreateTableEvent(tbl, schema), DataChangeEvent.insert(tbl, (1, "hello"))]
    sink = MemorySink()
    pdef = parse_yaml_pipeline(yaml_text)
    PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()
    assert sink.snapshot(tbl) == ["1, [fake-model] hello"]


def test_embedding_udf_shape(spark):
    from source_flink_cdc_3_5_0_spark.functions.ai_models import (ModelSpec,
                                                                  register_model_functions)
    register_model_functions(spark, [ModelSpec(name="GET_EMBEDDING")])
    row = spark.sql("SELECT GET_EMBEDDING('abc') AS e").collect()[0]
    assert len(row["e"]) == 16
    row2 = spark.sql("SELECT GET_EMBEDDING('abc') AS e").collect()[0]
    assert row["e"] == row2["e"]  # deterministic


class TestJdbcPipelineSourceFactory:
    """YAML mysql/postgres source translation (MySqlDataSourceFactory.java
    option surface -> chunk-parallel JDBC snapshot)."""

    def test_mysql_options(self):
        from source_flink_cdc_3_5_0_spark.sources.jdbc import JdbcPipelineSource

        s = JdbcPipelineSource.from_options("mysql", {
            "hostname": "db1", "port": "3307", "username": "u",
            "password": "p", "tables": "app.users, app.orders",
            "primary-keys": '{"app.users": ["id"], "app.orders": ["oid"]}',
        })
        assert s.url == "jdbc:mysql://db1:3307"
        assert s.table_names == ["app.users", "app.orders"]
        assert s.split_columns == {"app.users": "id", "app.orders": "oid"}
        assert s.properties["driver"] == "com.mysql.cj.jdbc.Driver"
        assert str(s._table_id("app.users")) == "mysql.app.users"

    def test_postgres_defaults_and_chunk_key_column(self):
        from source_flink_cdc_3_5_0_spark.sources.jdbc import JdbcPipelineSource

        s = JdbcPipelineSource.from_options("postgres", {
            "tables": "public.t",
            "scan.incremental.snapshot.chunk.key-column": "seq",
            "scan.incremental.snapshot.chunk.size": "1000",
        })
        assert s.url == "jdbc:postgresql://localhost:5432"
        assert s.split_columns == {"public.t": "seq"}
        assert s.chunk_size == 1000
        assert s.properties["driver"] == "org.postgresql.Driver"

    def test_missing_split_column_rejected(self):
        from source_flink_cdc_3_5_0_spark.sources.jdbc import JdbcPipelineSource

        with pytest.raises(ValueError, match="no split column"):
            JdbcPipelineSource.from_options("mysql", {"tables": "a.b"})


class TestYamlSinkDispatch:
    def _compose(self, spark, yaml_text):
        from source_flink_cdc_3_5_0_spark.pipeline import (
            PipelineComposer, parse_yaml_pipeline)

        return PipelineComposer(spark), parse_yaml_pipeline(yaml_text)

    def test_kafka_sink_local_spool(self, spark, tmp_path):
        from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink

        composer, pdef = self._compose(spark, f"""
source: {{type: parquet, tables: '{{}}'}}
sink:
  type: kafka
  value.format: canal-json
  output-dir: {tmp_path}/spool
""")
        sink = composer._create_sink(pdef)
        assert isinstance(sink, KafkaChangelogSink)
        assert sink.serialization == "canal-json"

    def test_lake_sink_stand_in_and_live_refusal(self, spark, tmp_path):
        from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

        composer, pdef = self._compose(spark, f"""
source: {{type: parquet, tables: '{{}}'}}
sink: {{type: iceberg, path: {tmp_path}/wh}}
""")
        sink = composer._create_sink(pdef)
        assert isinstance(sink, SnapshotLakeSink)
        assert (sink.mode, sink.keep_last) == ("cow", 1)
        composer, pdef = self._compose(spark, """
source: {type: parquet, tables: '{}'}
sink: {type: doris, fenodes: "fe:8030"}
""")
        with pytest.raises(ValueError, match="environment-gated"):
            composer._create_sink(pdef)


def test_walk_sql_uses_backticks_for_mysql_urls():
    """MySQL's default sql_mode treats double quotes as string literals —
    the walk SQL must quote identifiers with backticks there."""
    from source_flink_cdc_3_5_0_spark.sources.jdbc import quote_char_for_url

    assert quote_char_for_url("jdbc:mysql://h:3306/db") == "`"
    assert quote_char_for_url("jdbc:mariadb://h/db") == "`"
    assert quote_char_for_url("jdbc:postgresql://h/db") == '"'
    captured = []

    def scalar(sql):
        captured.append(sql)
        return None

    src = JdbcSnapshotSource("jdbc:mysql://h/db", "db.t", "order",
                             chunk_size=10)
    from source_flink_cdc_3_5_0_spark.sources.jdbc import sql_walk_callables
    ncm, _ = sql_walk_callables(scalar, src.table, src.split_column,
                                src.chunk_size,
                                quote=quote_char_for_url(src.url))
    ncm(5)
    assert captured[0] == ("SELECT MAX(`order`) m FROM (SELECT `order` "
                           "FROM `db`.`t` WHERE `order` >= 5 "
                           "ORDER BY `order` ASC LIMIT 10) w")


def test_udf_pipeline_streaming_mode(spark, tmp_path):
    """Round-9 review: compose_streaming registered UDFs but never
    passed the names into the transforms, so a UDF projection that
    worked in batch failed to compile on the first micro-batch. The
    same YAML must now run in STREAMING mode."""
    import json as _json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    src = tmp_path / "stream"
    src.mkdir()
    recs = [{"op": "c", "ts_ms": 1,
             "source": {"db": "a", "schema": "b", "table": "t"},
             "after": {"k": 1, "v": 10}},
            {"op": "c", "ts_ms": 2,
             "source": {"db": "a", "schema": "b", "table": "t"},
             "after": {"k": 2, "v": 20}}]
    (src / "b1.json").write_text("\n".join(
        _json.dumps(r) for r in recs))
    yaml_text = f"""
source:
  type: debezium-file
  path: {src}
  tables: '{{"a.b.t": "k INT, v INT"}}'
  primary-keys: '{{"a.b.t": ["k"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
transform:
  - source-table: a.b.\\.*
    projection: "k, fmt(v) AS fv"
pipeline:
  user-defined-function:
    - name: fmt
      classpath: tests.udf_fixtures:format_val
"""
    pdef = parse_yaml_pipeline(yaml_text)
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        pdef, sink=sink)
    pipe.start(raw, tables).awaitTermination(120)
    assert sink.snapshot(TableId.parse("a.b.t")) == ["1, v=10", "2, v=20"]
