"""Sink-conformance suite: one changelog script through every DataSink.

The reference proves each sink with a full e2e matrix
(``MySqlToDorisE2eITCase``, ``MysqlToKafkaE2eITCase``, ...); this module
reduces that matrix to the ``DataSink`` contract — the IDENTICAL script
(create → inserts → add-column → update/delete/insert → replayed batch →
TRUNCATE → insert → readback, plus a DROP TABLE lifecycle on a second
table) driven through the memory, parquet, JDBC, Kafka, Elasticsearch,
Doris and StarRocks sinks, asserting the identical final state.  A
remaining lake writer (paimon/iceberg/...) slots in by implementing
``DataSink`` and adding one conformance row here.

Also pins the exact DML/DDL statement text generated by the three SQL
dialects (sqlite executes in-sandbox; mysql/postgres are the environment-
gated server dialects — 7 DDL events × 3 dialects, per the reference's
MetadataApplier dispatch, DorisMetadataApplier.java:117-141).
"""

import glob
import json
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common import (
    AddColumnEvent,
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.common.events import (
    AlterColumnTypeEvent,
    ColumnPosition,
    ColumnWithPosition,
    DropColumnEvent,
    DropTableEvent,
    RenameColumnEvent,
    TruncateTableEvent,
)
from source_flink_cdc_3_5_0_spark.operators.schema_evolution import (
    apply_schema_change_event,
)
from source_flink_cdc_3_5_0_spark.sinks.dialects import DIALECTS, get_dialect
from source_flink_cdc_3_5_0_spark.sinks.jdbc_sink import JdbcUpsertSink
from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

T1 = TableId.parse("conf.db.t1")
T2 = TableId.parse("conf.db.t2")
S1 = Schema.of(Column("id", T.IntegerType(), False), Column("v", T.StringType()),
               primary_keys=["id"])
ADD_EXTRA = AddColumnEvent.last(T1, Column("extra", T.StringType()))
S2 = apply_schema_change_event(S1, ADD_EXTRA)


def _batch_df(spark, schema, events):
    seq = [DataChangeEvent(e.table_id, e.op, e.before, e.after,
                           e.meta + (("__seq", str(i)),))
           for i, e in enumerate(events)]
    return ValuesSource._to_df(spark, schema, seq)


def _drive(spark, sink):
    """The conformance script. Returns (mid_state_reader_schema, ...) via
    closure-free explicit steps; callers read state with their own reader."""
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (1, "a")),
        DataChangeEvent.insert(T1, (2, "b")),
        DataChangeEvent.insert(T1, (3, "c")),
    ]), S1, batch_id=0)
    ap.apply_schema_change(T1, ADD_EXTRA, S2)
    b1 = _batch_df(spark, S2, [
        DataChangeEvent.update(T1, (2, "b", None), (2, "b2", "x")),
        DataChangeEvent.delete(T1, (3, "c", None)),
        DataChangeEvent.insert(T1, (4, "d", "y")),
    ])
    sink.write(T1, b1, S2, batch_id=1)
    sink.write(T1, b1, S2, batch_id=1)  # replay: must not double-apply


def _drive_tail(spark, sink):
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, TruncateTableEvent(T1), S2)
    sink.write(T1, _batch_df(spark, S2, [
        DataChangeEvent.insert(T1, (5, "e", "z")),
    ]), S2, batch_id=2)
    # second table: full create -> insert -> DROP lifecycle
    ap.apply_schema_change(T2, CreateTableEvent(T2, S1), S1)
    sink.write(T2, _batch_df(spark, S1, [
        DataChangeEvent.insert(T2, (1, "q")),
    ]), S1, batch_id=0)
    ap.apply_schema_change(T2, DropTableEvent(T2), S1)


MID_STATE = {(1, "a", None), (2, "b2", "x"), (4, "d", "y")}
FINAL_STATE = {(5, "e", "z")}


def _rows_memory(sink, spark, tid, schema):
    names = [c.name for c in schema.columns]
    return {tuple(row.get(n) for n in names)
            for row in sink.state[tid].values()}


def _rows_read(sink, spark, tid, schema):
    names = [c.name for c in schema.columns]
    return {tuple(r[n] for n in names)
            for r in sink.read(spark, tid).collect()}


def _rows_jdbc(sink, spark, tid, schema):
    names = [c.name for c in schema.columns]
    return {tuple(r[n] for n in names)
            for r in sink.read(spark, tid, schema).collect()}


def test_memory_sink_conformance(spark):
    sink = MemorySink()
    _drive(spark, sink)
    assert _rows_memory(sink, spark, T1, S2) == MID_STATE
    _drive_tail(spark, sink)
    assert _rows_memory(sink, spark, T1, S2) == FINAL_STATE
    assert T2 not in sink.state and T2 not in sink.schemas


def test_parquet_sink_conformance(spark, tmp_path):
    """The one-snapshot copy-on-write table ``type: parquet`` builds."""
    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=4,
                            keep_last=1)
    _drive(spark, sink)
    assert _rows_read(sink, spark, T1, S2) == MID_STATE
    _drive_tail(spark, sink)
    assert _rows_read(sink, spark, T1, S2) == FINAL_STATE
    assert not os.path.exists(sink._table_dir(T2))


def test_jdbc_sink_conformance(spark, tmp_path):
    sink = JdbcUpsertSink(str(tmp_path / "sink.db"))
    _drive(spark, sink)
    assert _rows_jdbc(sink, spark, T1, S2) == MID_STATE
    _drive_tail(spark, sink)
    assert _rows_jdbc(sink, spark, T1, S2) == FINAL_STATE
    import sqlite3

    con = sqlite3.connect(sink.db_path)
    try:
        left = {r[0] for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'")}
    finally:
        con.close()
    assert sink.table_name(T2) not in left


def _kafka_state(out_dir, tid, schema, upto_batch=None, clear_before=None):
    """Materialize a spooled debezium-json topic the way a downstream
    consumer would (the Kafka sink has no DDL/TRUNCATE surface — a real
    consumer pairs the data topic with the schema-change topic, so the
    TRUNCATE position is script knowledge here, passed as clear_before)."""
    names = [c.name for c in schema.columns]
    dirs = sorted(
        glob.glob(os.path.join(out_dir, tid.identifier(), "batch_*")),
        key=lambda p: int(p.rsplit("_", 1)[1]))
    state = {}
    for d in dirs:
        bid = int(d.rsplit("_", 1)[1])
        if upto_batch is not None and bid > upto_batch:
            continue
        if clear_before is not None and bid >= clear_before:
            state.clear()
            clear_before = None
        for part in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(part) as f:
                for line in f:
                    if not line.strip():
                        continue
                    payload = json.loads(line)
                    op = payload["op"]
                    img = payload["after"] if op != "d" else payload["before"]
                    key = img["id"]
                    if op == "d":
                        state.pop(key, None)
                    else:
                        state[key] = tuple(img.get(n) for n in names)
    return set(state.values())


def _es_state(out_dir, tid, schema, upto_batch=None, clear_before=None):
    """Materialize a spooled _bulk NDJSON topic like an ES cluster would:
    index ops upsert the doc by _id, delete ops remove it (same DDL
    caveat as the Kafka materializer — TRUNCATE position is script
    knowledge)."""
    names = [c.name for c in schema.columns]
    dirs = sorted(
        glob.glob(os.path.join(out_dir, tid.identifier(), "batch_*")),
        key=lambda p: int(p.rsplit("_", 1)[1]))
    state = {}
    for d in dirs:
        bid = int(d.rsplit("_", 1)[1])
        if upto_batch is not None and bid > upto_batch:
            continue
        if clear_before is not None and bid >= clear_before:
            state.clear()
            clear_before = None
        for part in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(part) as f:
                lines = [ln for ln in f.read().splitlines() if ln.strip()]
            i = 0
            while i < len(lines):
                action = json.loads(lines[i])
                if "index" in action:
                    doc = json.loads(lines[i + 1])
                    state[action["index"]["_id"]] = tuple(
                        doc.get(n) for n in names)
                    i += 2
                else:
                    state.pop(action["delete"]["_id"], None)
                    i += 1
    return set(state.values())


def test_elasticsearch_sink_conformance(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sinks.elasticsearch import (
        ElasticsearchBulkSink)

    out = str(tmp_path / "es")
    sink = ElasticsearchBulkSink(output_dir=out)
    _drive(spark, sink)
    assert _es_state(out, T1, S2, upto_batch=1) == MID_STATE
    _drive_tail(spark, sink)
    assert _es_state(out, T1, S2, clear_before=2) == FINAL_STATE
    # like Kafka, the spooled changelog outlives the DROP
    assert _es_state(out, T2, S1) == {(1, "q")}


def test_elasticsearch_bulk_wire_format(spark, tmp_path):
    """Pin the exact _bulk lines: index action + source doc for upserts
    (doc _id = PK values joined by '_'), delete action alone for
    deletes — ElasticsearchEventSerializer.java:140-170 semantics."""
    from source_flink_cdc_3_5_0_spark.sinks.elasticsearch import (
        ElasticsearchBulkSink)

    sink = ElasticsearchBulkSink(output_dir=str(tmp_path / "es"))
    batch = _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (7, "x")),
        DataChangeEvent.delete(T1, (9, "gone")),
    ])
    lines = sorted(r["lines"]
                   for r in sink.encode_bulk(T1, batch, S1).collect())
    assert lines == [
        '{"delete":{"_index":"conf.db.t1","_id":"9"}}',
        '{"index":{"_index":"conf.db.t1","_id":"7"}}\n{"id":7,"v":"x"}',
    ]


def _streamload_state(out_dir, tid, schema, del_col, del_val,
                      upto_batch=None, clear_before=None):
    """Materialize a spooled Stream Load table the way the OLAP engine's
    primary-key model applies it: marker==del_val retracts by key, else
    upsert (same DDL caveat as the Kafka materializer)."""
    names = [c.name for c in schema.columns]
    pks = list(schema.primary_keys)
    dirs = sorted(
        glob.glob(os.path.join(out_dir, tid.identifier(), "batch_*")),
        key=lambda p: int(p.rsplit("_", 1)[1]))
    state = {}
    for d in dirs:
        bid = int(d.rsplit("_", 1)[1])
        if upto_batch is not None and bid > upto_batch:
            continue
        if clear_before is not None and bid >= clear_before:
            state.clear()
            clear_before = None
        for part in sorted(glob.glob(os.path.join(d, "part-*"))):
            with open(part) as f:
                for line in f:
                    if not line.strip():
                        continue
                    row = json.loads(line)
                    key = tuple(row[k] for k in pks)
                    if row[del_col] == del_val:
                        state.pop(key, None)
                    else:
                        state[key] = tuple(row.get(n) for n in names)
    return set(state.values())


@pytest.mark.parametrize("flavor,del_col,del_val", [
    ("starrocks", "__op", 1),
    ("doris", "__DORIS_DELETE_SIGN__", "1"),
])
def test_streamload_sink_conformance(spark, tmp_path, flavor, del_col,
                                     del_val):
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        DorisStreamLoadSink, StarRocksStreamLoadSink)

    out = str(tmp_path / flavor)
    sink = (StarRocksStreamLoadSink(output_dir=out) if flavor == "starrocks"
            else DorisStreamLoadSink(output_dir=out))
    _drive(spark, sink)
    assert _streamload_state(out, T1, S2, del_col, del_val,
                             upto_batch=1) == MID_STATE
    _drive_tail(spark, sink)
    assert _streamload_state(out, T1, S2, del_col, del_val,
                             clear_before=2) == FINAL_STATE
    # DDL spool carries the MySQL-dialect statements a live applier runs
    ddl = open(os.path.join(out, T1.identifier(), "ddl.sql")).read()
    assert "CREATE TABLE IF NOT EXISTS `conf.db.t1`" in ddl
    assert "ADD COLUMN `extra` TEXT" in ddl
    assert "TRUNCATE TABLE `conf.db.t1`" in ddl
    ddl2 = open(os.path.join(out, T2.identifier(), "ddl.sql")).read()
    assert "DROP TABLE IF EXISTS `conf.db.t2`" in ddl2


def test_streamload_wire_format(spark, tmp_path):
    """Pin the exact JSON rows: every physical column + the flavor's
    delete marker (EventRecordSerializationSchema.java:136 /
    DorisEventSerializer addDeleteSign)."""
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        DorisStreamLoadSink, StarRocksStreamLoadSink)

    batch = _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (7, "x")),
        DataChangeEvent.delete(T1, (9, "gone")),
    ])
    sr = StarRocksStreamLoadSink(output_dir=str(tmp_path / "sr"))
    assert sorted(r["lines"] for r in
                  sr.encode_stream_load(T1, batch, S1).collect()) == [
        '{"id":7,"v":"x","__op":0}',
        '{"id":9,"v":"gone","__op":1}',
    ]
    dr = DorisStreamLoadSink(output_dir=str(tmp_path / "dr"))
    assert sorted(r["lines"] for r in
                  dr.encode_stream_load(T1, batch, S1).collect()) == [
        '{"id":7,"v":"x","__DORIS_DELETE_SIGN__":"0"}',
        '{"id":9,"v":"gone","__DORIS_DELETE_SIGN__":"1"}',
    ]


def test_kafka_sink_conformance(spark, tmp_path):
    out = str(tmp_path / "kafka")
    sink = KafkaChangelogSink(serialization="debezium-json", output_dir=out)
    _drive(spark, sink)
    assert _kafka_state(out, T1, S2, upto_batch=1) == MID_STATE
    _drive_tail(spark, sink)
    assert _kafka_state(out, T1, S2, clear_before=2) == FINAL_STATE
    # Kafka keeps the dropped table's changelog (topics outlive DDL); its
    # content still materializes to the pre-drop state
    assert _kafka_state(out, T2, S1) == {(1, "q")}


@pytest.mark.parametrize("kind", ["kafka", "es", "starrocks"])
def test_text_spool_crash_leftover_stays_invisible(spark, tmp_path,
                                                   monkeypatch, kind):
    """A crash between Spark's staging write and the publish leaves the
    staging dir behind. Consumers glob ``batch_*`` and parse the batch id
    from the name, so the leftover must not match: they read exactly the
    committed batches, a replayed batch still no-ops, and the retried
    batch publishes over the leftover."""
    from source_flink_cdc_3_5_0_spark.sinks.elasticsearch import \
        ElasticsearchBulkSink
    from source_flink_cdc_3_5_0_spark.sinks.streamload import \
        StarRocksStreamLoadSink

    out = str(tmp_path / kind)
    sink, state = {
        "kafka": (KafkaChangelogSink(output_dir=out),
                  lambda: _kafka_state(out, T1, S2)),
        "es": (ElasticsearchBulkSink(output_dir=out),
               lambda: _es_state(out, T1, S2)),
        "starrocks": (StarRocksStreamLoadSink(output_dir=out),
                      lambda: _streamload_state(out, T1, S2, "__op", 1)),
    }[kind]
    _drive(spark, sink)
    b2 = _batch_df(spark, S2, [DataChangeEvent.insert(T1, (5, "e", "z"))])

    def crash(src, dst):
        raise OSError("crash before publish")

    with monkeypatch.context() as m:
        m.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="crash before publish"):
            sink.write(T1, b2, S2, batch_id=2)
    assert [n for n in os.listdir(os.path.join(out, T1.identifier()))
            if n.endswith(".tmp")], "the crash left no staging dir"
    assert state() == MID_STATE
    sink.write(T1, b2, S2, batch_id=1)  # replay of a committed batch
    assert state() == MID_STATE
    sink.write(T1, b2, S2, batch_id=2)
    assert state() == MID_STATE | {(5, "e", "z")}


def test_kafka_topic_spool_publish_failure_leaves_no_rows(spark, tmp_path,
                                                          monkeypatch):
    """``dump_kafka_topic`` spools into the directory ``file_stream_source``
    reads whole. A failure after the spool file's bytes are written but
    before it is published must leave nothing that stream reads: a
    visible partial file would be consumed, then duplicated by the
    retried dump."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, dump_kafka_topic)
    from source_flink_cdc_3_5_0_spark.streaming.runner import \
        file_stream_source

    spool = str(tmp_path / "spool")
    with ToyKafkaBroker(num_partitions=1) as br:
        KafkaWireProducer(br.bootstrap).produce(
            "cdc.t", [(b"k", b'{"id": %d}' % i, []) for i in range(3)],
            partition=0)

        def crash(src, dst):
            raise OSError("crash before publish")

        with monkeypatch.context() as m:
            m.setattr(os, "replace", crash)
            with pytest.raises(OSError, match="crash before publish"):
                dump_kafka_topic(br.bootstrap, "cdc.t", spool)
    q = (file_stream_source(spark, spool).writeStream.format("memory")
         .queryName("kafka_spool_after_crash")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert spark.table("kafka_spool_after_crash").count() == 0


# ---------------------------------------------------------------------------
# Dialect statement text: 7 DDL events x 3 dialects + keyed DML
# ---------------------------------------------------------------------------

SD = Schema.of(
    Column("id", T.IntegerType(), False),
    Column("v", T.StringType()),
    Column("amt", T.DecimalType(12, 2)),
    Column("ok", T.BooleanType()),
    Column("ts", T.TimestampNTZType()),
    Column("b", T.BinaryType()),
    primary_keys=["id"],
)
TD = TableId.parse("d.b.t")

UPSERTS = {
    "sqlite": 'INSERT INTO "d.b.t" ("id", "v") VALUES (?, ?) '
              'ON CONFLICT ("id") DO UPDATE SET "v"=excluded."v"',
    "mysql": "INSERT INTO `d.b.t` (`id`, `v`) VALUES (?, ?) "
             "ON DUPLICATE KEY UPDATE `v`=VALUES(`v`)",
    "postgres": 'INSERT INTO "d.b.t" ("id", "v") VALUES (?, ?) '
                'ON CONFLICT ("id") DO UPDATE SET "v"=EXCLUDED."v"',
    "maxcompute": "merge into `d.b.t` as t using (select ? as id, ? as v) "
                  "as s on t.id = s.id when matched then update set "
                  "t.v = s.v when not matched then insert values "
                  "(s.id, s.v)",
}
PK_ONLY_UPSERTS = {
    "sqlite": 'INSERT INTO "d.b.t" ("id") VALUES (?) '
              'ON CONFLICT ("id") DO NOTHING',
    "mysql": "INSERT IGNORE INTO `d.b.t` (`id`) VALUES (?)",
    "postgres": 'INSERT INTO "d.b.t" ("id") VALUES (?) '
                'ON CONFLICT ("id") DO NOTHING',
    "maxcompute": "merge into `d.b.t` as t using (select ? as id) as s "
                  "on t.id = s.id when not matched then insert values "
                  "(s.id)",
}
DELETES = {
    "sqlite": 'DELETE FROM "d.b.t" WHERE "id"=?',
    "mysql": "DELETE FROM `d.b.t` WHERE `id`=?",
    "postgres": 'DELETE FROM "d.b.t" WHERE "id"=?',
    "maxcompute": "delete from `d.b.t` where id = ?",
}


@pytest.mark.parametrize("dialect", sorted(DIALECTS))
def test_dialect_dml_text(dialect):
    d = get_dialect(dialect)
    assert d.upsert_sql("d.b.t", ["id", "v"], ["id"]) == UPSERTS[dialect]
    assert d.upsert_sql("d.b.t", ["id"], ["id"]) == PK_ONLY_UPSERTS[dialect]
    assert d.delete_sql("d.b.t", ["id"]) == DELETES[dialect]


CREATE = {
    "sqlite": ['CREATE TABLE IF NOT EXISTS "d.b.t" ("id" INTEGER, "v" TEXT, '
               '"amt" TEXT, "ok" INTEGER, "ts" TEXT, "b" BLOB, '
               'PRIMARY KEY ("id"))'],
    "mysql": ["CREATE TABLE IF NOT EXISTS `d.b.t` (`id` INT, `v` TEXT, "
              "`amt` DECIMAL(12, 2), `ok` TINYINT(1), `ts` DATETIME(6), "
              "`b` LONGBLOB, PRIMARY KEY (`id`))"],
    "postgres": ['CREATE TABLE IF NOT EXISTS "d.b.t" ("id" INTEGER, '
                 '"v" TEXT, "amt" NUMERIC(12, 2), "ok" BOOLEAN, '
                 '"ts" TIMESTAMP, "b" BYTEA, PRIMARY KEY ("id"))'],
    "maxcompute": ["create table if not exists `d.b.t` (id INT, v STRING, "
                   "amt DECIMAL(12,2), ok BOOLEAN, ts TIMESTAMP_NTZ, "
                   "b BINARY, primary key (id)) "
                   'tblproperties ("transactional"="true")'],
}

ADD_EVENT = AddColumnEvent(TD, (
    ColumnWithPosition(Column("c1", T.StringType())),
    ColumnWithPosition(Column("c2", T.IntegerType()), ColumnPosition.FIRST),
    ColumnWithPosition(Column("c3", T.DoubleType()), ColumnPosition.AFTER, "v"),
))
ADD = {
    "sqlite": ['ALTER TABLE "d.b.t" ADD COLUMN "c1" TEXT',
               'ALTER TABLE "d.b.t" ADD COLUMN "c2" INTEGER',
               'ALTER TABLE "d.b.t" ADD COLUMN "c3" REAL'],
    "mysql": ["ALTER TABLE `d.b.t` ADD COLUMN `c1` TEXT",
              "ALTER TABLE `d.b.t` ADD COLUMN `c2` INT FIRST",
              "ALTER TABLE `d.b.t` ADD COLUMN `c3` DOUBLE AFTER `v`"],
    "postgres": ['ALTER TABLE "d.b.t" ADD COLUMN "c1" TEXT',
                 'ALTER TABLE "d.b.t" ADD COLUMN "c2" INTEGER',
                 'ALTER TABLE "d.b.t" ADD COLUMN "c3" DOUBLE PRECISION'],
    # ONE statement for the whole event (SchemaEvolutionUtils.java:106-150)
    "maxcompute": ["alter table `d.b.t` add columns "
                   "(c1 STRING comment 'STRING', c2 INT comment 'INT', "
                   "c3 DOUBLE comment 'DOUBLE')"],
}

ALTER_EVENT = AlterColumnTypeEvent(TD, (("id", T.LongType()),))
ALTER_SCHEMA = apply_schema_change_event(SD, ALTER_EVENT)
ALTER = {
    "sqlite": [
        'DROP TABLE IF EXISTS "d.b.t__rebuild"',
        'CREATE TABLE IF NOT EXISTS "d.b.t__rebuild" ("id" INTEGER, '
        '"v" TEXT, "amt" TEXT, "ok" INTEGER, "ts" TEXT, "b" BLOB, '
        'PRIMARY KEY ("id"))',
        'INSERT INTO "d.b.t__rebuild" ("id", "v", "amt", "ok", "ts", "b") '
        'SELECT "id", "v", "amt", "ok", "ts", "b" FROM "d.b.t"',
        'DROP TABLE "d.b.t"',
        'ALTER TABLE "d.b.t__rebuild" RENAME TO "d.b.t"',
    ],
    "mysql": ["ALTER TABLE `d.b.t` MODIFY COLUMN `id` BIGINT"],
    "postgres": ['ALTER TABLE "d.b.t" ALTER COLUMN "id" TYPE BIGINT '
                 'USING "id"::BIGINT'],
    "maxcompute": ["alter table `d.b.t` change column id id BIGINT"],
}

DDL_CASES = {
    "create": (CreateTableEvent(TD, SD), SD, CREATE),
    "add_column": (ADD_EVENT, apply_schema_change_event(SD, ADD_EVENT), ADD),
    "drop_column": (DropColumnEvent(TD, ("amt",)), None, {
        "sqlite": ['ALTER TABLE "d.b.t" DROP COLUMN "amt"'],
        "mysql": ["ALTER TABLE `d.b.t` DROP COLUMN `amt`"],
        "postgres": ['ALTER TABLE "d.b.t" DROP COLUMN "amt"'],
        "maxcompute": ["alter table `d.b.t` drop columns amt"],
    }),
    "rename_column": (RenameColumnEvent(TD, (("v", "val"),)), None, {
        "sqlite": ['ALTER TABLE "d.b.t" RENAME COLUMN "v" TO "val"'],
        "mysql": ["ALTER TABLE `d.b.t` RENAME COLUMN `v` TO `val`"],
        "postgres": ['ALTER TABLE "d.b.t" RENAME COLUMN "v" TO "val"'],
        "maxcompute": ["alter table `d.b.t` change column v rename to val"],
    }),
    "alter_column_type": (ALTER_EVENT, ALTER_SCHEMA, ALTER),
    "truncate": (TruncateTableEvent(TD), SD, {
        "sqlite": ['DELETE FROM "d.b.t"'],
        "mysql": ["TRUNCATE TABLE `d.b.t`"],
        "postgres": ['TRUNCATE TABLE "d.b.t"'],
        "maxcompute": ["truncate table `d.b.t`"],
    }),
    "drop_table": (DropTableEvent(TD), SD, {
        "sqlite": ['DROP TABLE IF EXISTS "d.b.t"'],
        "mysql": ["DROP TABLE IF EXISTS `d.b.t`"],
        "postgres": ['DROP TABLE IF EXISTS "d.b.t"'],
        "maxcompute": ["drop table if exists `d.b.t`"],
    }),
}


@pytest.mark.parametrize("dialect", sorted(DIALECTS))
@pytest.mark.parametrize("case", sorted(DDL_CASES))
def test_dialect_ddl_text(dialect, case):
    event, evolved, expected = DDL_CASES[case]
    if evolved is None:
        evolved = apply_schema_change_event(SD, event)
    got = get_dialect(dialect).ddl_sql("d.b.t", event, evolved)
    assert got == expected[dialect]


def test_kafka_partition_strategy_and_headers(spark, tmp_path):
    """Reference parity (PipelineKafkaRecordSerializationSchema.java:102,
    PartitionStrategy.java:26-29): all-to-zero pins partition 0 on every
    producer record; hash-by-key omits the column (the producer's
    partitioner hashes the key, preserving per-key order); optional
    tableId headers carry namespace/schemaName/tableName."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink

    batch = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])
    zero = KafkaChangelogSink(output_dir=str(tmp_path), add_table_to_header=True)
    rec = zero.encode_records(T1, batch, S1).collect()[0]
    assert rec["partition"] == 0
    hdrs = {h["key"]: bytes(h["value"]).decode() for h in rec["headers"]}
    assert hdrs == {"namespace": "conf", "schemaName": "db",
                    "tableName": "t1"}
    hashed = KafkaChangelogSink(output_dir=str(tmp_path),
                                partition_strategy="hash-by-key")
    cols = hashed.encode_records(T1, batch, S1).columns
    assert "partition" not in cols and "headers" not in cols
    import pytest as _pytest
    with _pytest.raises(ValueError, match="partition.strategy"):
        KafkaChangelogSink(output_dir=str(tmp_path),
                           partition_strategy="round-robin")


def test_streamload_ddl_spool_replay_idempotent(spark, tmp_path):
    """A crash-replayed micro-batch re-applies its schema events from a
    FRESH process — statements must not duplicate in the ddl.sql spool (a
    live applier cannot re-run an ADD COLUMN).  Simulated faithfully: a
    second sink instance on the same spool replays the same batch's
    events in the same order."""
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        StarRocksStreamLoadSink)

    sink = StarRocksStreamLoadSink(output_dir=str(tmp_path))
    ap = sink.metadata_applier()
    ap.batch_ctx = "r1_0"
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    ap.apply_schema_change(T1, ADD_EXTRA, S2)
    # crash + restart: new process, same batch replayed
    sink2 = StarRocksStreamLoadSink(output_dir=str(tmp_path))
    ap2 = sink2.metadata_applier()
    ap2.batch_ctx = "r1_0"
    ap2.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    ap2.apply_schema_change(T1, ADD_EXTRA, S2)
    ddl = open(os.path.join(str(tmp_path), T1.identifier(), "ddl.sql")).read()
    assert ddl.count("ADD COLUMN `extra`") == 1
    assert ddl.count("CREATE TABLE") == 1


def _rows_lake(sink, spark, tid, schema, snapshot=None):
    names = [c.name for c in schema.columns]
    return {tuple(r[n] for n in names)
            for r in sink.read(spark, tid, snapshot=snapshot).collect()}


def test_snapshot_lake_sink_conformance(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=4)
    _drive(spark, sink)
    assert _rows_lake(sink, spark, T1, S2) == MID_STATE
    mid_snap = sink.snapshots(T1)[-1]
    _drive_tail(spark, sink)
    assert _rows_lake(sink, spark, T1, S2) == FINAL_STATE
    assert not os.path.exists(sink._table_dir(T2))
    # TIME TRAVEL: the pre-truncate snapshot still reads MID_STATE
    assert _rows_lake(sink, spark, T1, S2, snapshot=mid_snap) == MID_STATE


def test_snapshot_lake_time_travel_vacuum_compact(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=2)
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (1, "a")),
        DataChangeEvent.insert(T1, (2, "b")),
    ]), S1, batch_id=0)
    s0 = sink.snapshots(T1)[-1]
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.update(T1, (1, "a"), (1, "a2")),
        DataChangeEvent.delete(T1, (2, "b")),
    ]), S1, batch_id=1)
    # snapshot isolation: both points in history readable simultaneously
    assert _rows_lake(sink, spark, T1, S1, snapshot=s0) == {(1, "a"), (2, "b")}
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a2")}
    # compaction commits a NEW snapshot; results unchanged
    sink.compact(spark, T1)
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a2")}
    # vacuum(keep_last=1): the old snapshot's files are reclaimed
    removed = sink.vacuum(T1, keep_last=1)
    assert removed > 0
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a2")}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="unknown snapshot"):
        sink.read(spark, T1, snapshot=s0)


def test_snapshot_lake_replay_idempotent(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=2)
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    b = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])
    sink.write(T1, b, S1, batch_id=0)
    n_snaps = len(sink.snapshots(T1))
    sink.write(T1, b, S1, batch_id=0)  # replay: no new snapshot, no change
    assert len(sink.snapshots(T1)) == n_snaps
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a")}


def test_snapshot_lake_mor_conformance(spark, tmp_path):
    """The identical conformance script through merge-on-read mode —
    same final states, but commits are append-only delta files."""
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=4,
                            mode="mor")
    _drive(spark, sink)
    assert _rows_lake(sink, spark, T1, S2) == MID_STATE
    # every commit so far was append-only: no base files exist
    m = sink._manifest(T1)
    assert not m["buckets"] and m.get("deltas"), m
    mid_snap = sink.snapshots(T1)[-1]
    _drive_tail(spark, sink)
    assert _rows_lake(sink, spark, T1, S2) == FINAL_STATE
    assert not os.path.exists(sink._table_dir(T2))
    assert _rows_lake(sink, spark, T1, S2, snapshot=mid_snap) == MID_STATE


def test_snapshot_lake_mor_compact_and_vacuum(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=2,
                            mode="mor")
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (1, "a")),
        DataChangeEvent.insert(T1, (2, "b")),
    ]), S1, batch_id=0)
    s0 = sink.snapshots(T1)[-1]
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.update(T1, (1, "a"), (1, "a2")),
        DataChangeEvent.delete(T1, (2, "b")),
    ]), S1, batch_id=1)
    assert _rows_lake(sink, spark, T1, S1, snapshot=s0) == {(1, "a"), (2, "b")}
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a2")}
    # compact folds deltas into base; state unchanged, deltas cleared
    sink.compact(spark, T1)
    m = sink._manifest(T1)
    assert m["buckets"] and not m.get("deltas"), m
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a2")}
    # deltas keep accumulating AFTER a compaction (seq ordering holds)
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.update(T1, (1, "a2"), (1, "a3")),
    ]), S1, batch_id=2)
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a3")}
    # vacuum reclaims now-unreferenced delta AND base files
    removed = sink.vacuum(T1, keep_last=1)
    assert removed > 0
    assert _rows_lake(sink, spark, T1, S1) == {(1, "a3")}


def test_snapshot_lake_mor_commit_is_o_batch(spark, tmp_path):
    """The MoR selling point: a commit writes ONLY the batch's delta
    files — the data directory is never read nor written (the
    copy-on-write mode rewrites every touched bucket instead)."""
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink

    sink = SnapshotLakeSink(str(tmp_path / "lake"), num_buckets=2,
                            mode="mor")
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (i, f"v{i}")) for i in range(20)
    ]), S1, batch_id=0)
    sink.compact(spark, T1)  # establish base files
    data = tmp_path / "lake" / T1.identifier() / "data"

    def on_disk():
        return {str(p.relative_to(data)) for p in data.rglob("*.parquet")}

    base_files = on_disk()
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.update(T1, (7, "v7"), (7, "V7")),
    ]), S1, batch_id=1)
    after = on_disk()
    assert after == base_files  # base untouched by the delta commit
    assert _rows_lake(sink, spark, T1, S1) == (
        {(i, f"v{i}") for i in range(20) if i != 7} | {(7, "V7")})


def test_yaml_changelog_mode_builds_mor_sink(spark):
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline,
    )

    def sink_for(extra):
        yaml_text = f"""
source:
  type: parquet
  tables: '{{"d.b.t": "/root/testdata/sf0.001/region.parquet"}}'
  primary-keys: '{{"d.b.t": ["r_regionkey"]}}'
sink: {{type: paimon, path: /tmp/x, snapshots: "true"{extra}}}
"""
        pdef = parse_yaml_pipeline(yaml_text)
        return PipelineComposer(spark)._create_sink(pdef)

    assert sink_for(', changelog-mode: merge-on-read').mode == "mor"
    assert sink_for('').mode == "cow"


def test_kafka_key_formats(spark, tmp_path):
    """key.format reference parity (KeySerializationFactory +
    {Json,Csv}SerializationSchema: a (TableId, pk...) row): json is an
    object with a leading "TableId" field; csv is comma-separated with
    RFC quoting for fields containing delimiter/quote/newline."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink

    batch = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, 'a,"x'))])
    js = KafkaChangelogSink(output_dir=str(tmp_path))
    rec = js.encode_records(T1, batch, S1).collect()[0]
    assert json.loads(rec["key"]) == {"TableId": "conf.db.t1", "id": 1}
    cs = KafkaChangelogSink(output_dir=str(tmp_path), key_format="csv")
    rec = cs.encode_records(T1, batch, S1).collect()[0]
    assert rec["key"] == "conf.db.t1,1"
    # a pk value with delimiter/quote gets quoted + doubled quotes
    S_txt = Schema.of(Column("id", T.StringType(), False),
                      primary_keys=["id"])
    Tk = TableId.parse("conf.db.k")
    b2 = _batch_df(spark, S_txt, [DataChangeEvent.insert(Tk, ('a,"x',))])
    rec = cs.encode_records(Tk, b2, S_txt).collect()[0]
    assert rec["key"] == 'conf.db.k,"a,""x"'
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key.format"):
        KafkaChangelogSink(output_dir=str(tmp_path), key_format="avro")


def test_kafka_custom_headers_and_topic_mapping(spark, tmp_path):
    """sink.custom-header ("k1:v1,k2:v2") and sink.tableId-to-topic.mapping
    ("selector:topic;...") reference parity (KafkaDataSinkOptions:80-108)."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink

    batch = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])
    sink = KafkaChangelogSink(
        output_dir=str(tmp_path), add_table_to_header=True,
        custom_headers="env:prod, team:data",
        topic_mapping=r"conf.db.t1:topic_one;conf.\.*.\.*:topic_rest")
    rec = sink.encode_records(T1, batch, S1).collect()[0]
    hdrs = {h["key"]: bytes(h["value"]).decode() for h in rec["headers"]}
    assert hdrs == {"namespace": "conf", "schemaName": "db",
                    "tableName": "t1", "env": "prod", "team": "data"}
    # first matching selector wins; non-matching falls through
    assert sink.topic_for(T1) == "topic_one"
    assert sink.topic_for(T2) == "topic_rest"
    assert sink.topic_for(TableId.parse("other.db.t")) == "other.db.t"
    # custom headers work without the tableId headers too
    only = KafkaChangelogSink(output_dir=str(tmp_path),
                              custom_headers="k:v")
    rec = only.encode_records(T1, batch, S1).collect()[0]
    assert {h["key"] for h in rec["headers"]} == {"k"}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="custom-header"):
        KafkaChangelogSink(output_dir=str(tmp_path), custom_headers="oops")


def test_kafka_debezium_include_schema(spark, tmp_path):
    """debezium-json.include-schema.enabled wraps every record as
    {"schema": <connect schema>, "payload": <envelope>} with the
    reference's Connect type mapping
    (DebeziumJsonSerializationSchema.java:234-331)."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink

    S_types = Schema.of(
        Column("id", T.IntegerType(), False),
        Column("amt", T.DecimalType(10, 2)),
        Column("d", T.DateType()),
        Column("ts", T.TimestampNTZType()),
        Column("v", T.StringType(), comment="a comment"),
        primary_keys=["id"])
    Tk = TableId.parse("conf.db.types")
    batch = _batch_df(spark, S_types, [
        DataChangeEvent.insert(Tk, (1, None, None, None, "x"))])
    sink = KafkaChangelogSink(output_dir=str(tmp_path), include_schema=True)
    rec = json.loads(sink.encode_records(Tk, batch, S_types)
                     .collect()[0]["value"])
    assert set(rec) == {"schema", "payload"}
    assert rec["payload"]["after"]["id"] == 1
    sch = rec["schema"]
    assert sch["type"] == "struct" and sch["optional"] is False
    before, after = sch["fields"]
    assert before["field"] == "before" and before["optional"] is True
    by_name = {f["field"]: f for f in after["fields"]}
    assert by_name["id"] == {"type": "int32", "optional": False,
                             "field": "id"}
    assert by_name["amt"]["name"] == "org.apache.kafka.connect.data.Decimal"
    assert by_name["amt"]["parameters"] == {
        "scale": "2", "connect.decimal.precision": "10"}
    assert by_name["d"]["name"] == "io.debezium.time.Date"
    assert by_name["ts"]["name"] == "io.debezium.time.MicroTimestamp"
    assert by_name["v"]["doc"] == "a comment"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="include-schema"):
        KafkaChangelogSink(output_dir=str(tmp_path),
                           serialization="canal-json", include_schema=True)


def test_oceanbase_routes_to_mysql_dialect_jdbc(spark, tmp_path):
    """The reference's OceanBase sink is MySQL-protocol JDBC
    (OceanBaseMySQLCatalog.java:39-40 emits RENAME/MODIFY COLUMN MySQL
    text) — YAML `type: oceanbase` with a database path routes to the
    JdbcUpsertSink whose 'mysql' dialect pins that exact statement text;
    a live URL stays refused."""
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline,
    )

    def sink_for(extra):
        yaml_text = f"""
source:
  type: parquet
  tables: '{{"d.b.t": "/root/testdata/sf0.001/region.parquet"}}'
  primary-keys: '{{"d.b.t": ["r_regionkey"]}}'
sink: {{type: oceanbase{extra}}}
"""
        return PipelineComposer(spark)._create_sink(
            parse_yaml_pipeline(yaml_text))

    sink = sink_for(f", database: {tmp_path}/ob.db")
    assert isinstance(sink, JdbcUpsertSink)
    # the reference statement text parity lives in the mysql dialect
    # (already pinned for all 7 events in test_dialect_ddl_text; spot the
    # OceanBaseMySQLCatalog-exact MODIFY COLUMN form here)
    assert any("MODIFY COLUMN" in s
               for s in DDL_CASES["alter_column_type"][2]["mysql"])
    with pytest.raises(ValueError, match="live endpoint"):
        sink_for(", url: 'jdbc:oceanbase://host:2881', path: /tmp/x")


def test_oceanbase_live_url_with_database_refused(spark, tmp_path):
    """url + database together must refuse (review finding: previously the
    database key silently won and CDC output landed in a local file)."""
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline,
    )

    yaml_text = f"""
source:
  type: parquet
  tables: '{{"d.b.t": "/root/testdata/sf0.001/region.parquet"}}'
  primary-keys: '{{"d.b.t": ["r_regionkey"]}}'
sink: {{type: oceanbase, url: 'jdbc:oceanbase://prod:2881', database: {tmp_path}/ob.db}}
"""
    with pytest.raises(ValueError, match="live endpoint"):
        PipelineComposer(spark)._create_sink(parse_yaml_pipeline(yaml_text))


def test_maxcompute_sink_conformance(spark, tmp_path):
    """MaxCompute sink: the shared changelog contract on the bucketed
    PK-upsert data plane, PLUS the reference's exact SchemaEvolutionUtils
    DDL text spooled per table (what a live SQLTask executor runs)."""
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    sink = MaxComputeSink(str(tmp_path / "odps"), num_buckets=4)
    _drive(spark, sink)
    assert _rows_read(sink, spark, T1, S2) == MID_STATE
    ddl = open(os.path.join(sink.root, T1.identifier(), "ddl.sql")).read()
    assert "create table if not exists" in ddl
    assert 'tblproperties ("transactional"="true")' in ddl
    assert "add columns (" in ddl
    _drive_tail(spark, sink)
    assert _rows_read(sink, spark, T1, S2) == FINAL_STATE


def test_maxcompute_ddl_spool_replay_idempotent(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    root = str(tmp_path / "odps")
    ev = CreateTableEvent(T1, S1)
    sink = MaxComputeSink(root)
    app = sink.metadata_applier()
    app.batch_ctx = "b0"
    app.apply_schema_change(T1, ev, S1)
    # replayed micro-batch = fresh process re-applying the same batch
    sink2 = MaxComputeSink(root)
    app2 = sink2.metadata_applier()
    app2.batch_ctx = "b0"
    app2.apply_schema_change(T1, ev, S1)
    ddl = open(os.path.join(root, T1.identifier(), "ddl.sql")).read()
    assert ddl.count("create table") == 1


def test_maxcompute_layout_pins_transactional_table_semantics(spark, tmp_path):
    """Public MaxCompute transactional-PK-table semantics pinned on the
    stand-in layout (ODPS docs: a primary-key table is hash-clustered
    into ``write.bucket.num`` buckets and Tunnel upsert sessions write
    PER BUCKET; the reference routes events the same way in
    MaxComputeHashFunctionProvider.java). Invariants pinned:

    1. bucket directories never exceed ``buckets-num``;
    2. routing is a pure function of the PRIMARY KEY — updating every
       non-PK column never moves a row between buckets;
    3. a batch rewrites ONLY the buckets of its touched keys (the
       per-bucket Tunnel session analog).

    Documented divergence (what keeps this an analog, like the lake
    sink): the hash is the engine's portable bucket hash, not ODPS's
    non-public basis hash — the invariants above are what a live Tunnel
    executor slots into."""
    import glob as _glob

    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    sink = MaxComputeSink(str(tmp_path / "odps"), num_buckets=4)
    ap = sink.metadata_applier()
    ap.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.insert(T1, (i, "v%d" % i)) for i in range(40)
    ]), S1, batch_id=0)

    data = os.path.join(sink.root, T1.identifier(), "data")
    bucket_dirs = sorted(_glob.glob(os.path.join(data, "__bucket=*")))
    assert 2 <= len(bucket_dirs) <= 4, bucket_dirs

    def key_to_bucket():
        out = {}
        for b in sorted(_glob.glob(os.path.join(data, "__bucket=*"))):
            for r in spark.read.parquet(b).collect():
                out[r["id"]] = os.path.basename(b)
        return out

    before = key_to_bucket()
    assert set(before) == set(range(40))

    # 2. PK-pure routing: rewrite every value, no key may change bucket
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.update(T1, (i, "v%d" % i), (i, "w%d" % i))
        for i in range(40)
    ]), S1, batch_id=1)
    assert key_to_bucket() == before

    # 3. per-bucket rewrite: one key touched -> only its bucket's files
    # change
    files_before = {b: set(os.listdir(b)) for b in bucket_dirs}
    sink.write(T1, _batch_df(spark, S1, [
        DataChangeEvent.update(T1, (7, "w7"), (7, "z7")),
    ]), S1, batch_id=2)
    touched = os.path.join(data, before[7])
    for b in bucket_dirs:
        now = set(os.listdir(b))
        if b == touched:
            assert now != files_before[b], "touched bucket not rewritten"
        else:
            assert now == files_before[b], f"untouched bucket {b} rewritten"


def test_yaml_maxcompute_routes_to_sink(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.pipeline import parse_yaml_pipeline
    from source_flink_cdc_3_5_0_spark.pipeline.composer import PipelineComposer
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    def sink_for(extra):
        yaml_text = f"""
source:
  type: parquet
  tables: '{{"d.b.t": "/root/testdata/sf0.001/region.parquet"}}'
sink:
  type: maxcompute
{extra}
"""
        return PipelineComposer(spark)._create_sink(
            parse_yaml_pipeline(yaml_text))

    s = sink_for(f"  path: {tmp_path / 'mc'}\n  buckets-num: '8'")
    assert isinstance(s, MaxComputeSink)
    assert s.num_buckets == 8 and s.keep_last == 1
    with pytest.raises(ValueError, match="environment-gated"):
        sink_for(f"  path: {tmp_path / 'mc'}\n  accessId: xyz")


def test_ddl_spool_truncate_load_truncate_keeps_both(spark, tmp_path):
    """Review regression: a TRUNCATE in a LATER batch after data loads is
    a REAL event, not a micro-batch replay — it must reach both the
    spool and the data plane (the old last-digest skip silently dropped
    it), while a crash-replayed TRUNCATE must reach neither."""
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    root = str(tmp_path / "odps")
    trunc = TruncateTableEvent(T1)
    batch = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])

    sink = MaxComputeSink(root, num_buckets=2)
    app = sink.metadata_applier()
    app.batch_ctx = "b0"
    app.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    app.apply_schema_change(T1, trunc, S1)
    sink.write(T1, batch, S1, batch_id=0)
    assert _rows_read(sink, spark, T1, S1) == {(1, "a")}

    # crash-replay of batch b0 from a fresh process: the replayed
    # TRUNCATE must NOT wipe the rows the crashed run landed after it,
    # and must not duplicate in the spool
    sink2 = MaxComputeSink(root, num_buckets=2)
    app2 = sink2.metadata_applier()
    app2.batch_ctx = "b0"
    app2.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    app2.apply_schema_change(T1, trunc, S1)
    sink2.write(T1, batch, S1, batch_id=0)  # replayed batch: no-op
    assert _rows_read(sink2, spark, T1, S1) == {(1, "a")}

    # a REAL second truncate arrives in a LATER batch: applies + spools
    app3 = sink2.metadata_applier()
    app3.batch_ctx = "b1"
    app3.apply_schema_change(T1, trunc, S1)
    assert _rows_read(sink2, spark, T1, S1) == set()
    ddl = open(os.path.join(root, T1.identifier(), "ddl.sql")).read()
    assert ddl.count("truncate table") == 2
    assert ddl.count("create table") == 1

    # same discipline on the Stream Load spool
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        DorisStreamLoadSink,
    )

    sl = DorisStreamLoadSink(output_dir=str(tmp_path / "doris"))
    sapp = sl.metadata_applier()
    sapp.batch_ctx = "b0"
    sapp.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    sapp.apply_schema_change(T1, trunc, S1)
    sl.write(T1, batch, S1, batch_id=0)
    sapp2 = sl.metadata_applier()
    sapp2.batch_ctx = "b1"
    sapp2.apply_schema_change(T1, trunc, S1)  # real repeat, later batch
    sddl = open(os.path.join(sl.output_dir, T1.identifier(),
                             "ddl.sql")).read()
    assert sddl.count("TRUNCATE TABLE") == 2


def test_ddl_spool_segmented_batch_shares_parent_ctx(spark, tmp_path):
    """Review regression: one micro-batch whose destructive events span
    data SEGMENTS must record ALL its DDL groups under ONE batch ctx.
    When each segment's DDL rewrote the marker under its own sub-batch id,
    the previous group list was erased and a crash-replay re-applied the
    truncates over marker-skipped data rewrites (row loss)."""
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    root = str(tmp_path / "odps")
    trunc = TruncateTableEvent(T1)
    seg0 = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])
    seg1 = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (2, "b"))])

    def run_batch(sink):
        # TRUNCATE, data seg, TRUNCATE, data seg — the runner applies all
        # DDL under the PARENT ctx, data under per-segment ids
        app = sink.metadata_applier()
        app.batch_ctx = "stream_7"
        app.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
        app.apply_schema_change(T1, trunc, S1)
        sink.write(T1, seg0, S1, batch_id="stream_7s0")
        app.apply_schema_change(T1, trunc, S1)
        sink.write(T1, seg1, S1, batch_id="stream_7s1")

    sink = MaxComputeSink(root, num_buckets=2)
    run_batch(sink)
    assert _rows_read(sink, spark, T1, S1) == {(2, "b")}

    # crash-replay from a fresh process: every group is detected as a
    # replay (ordinals 0..2 under the SAME parent ctx), nothing re-wipes
    sink2 = MaxComputeSink(root, num_buckets=2)
    run_batch(sink2)
    assert _rows_read(sink2, spark, T1, S1) == {(2, "b")}
    ddl = open(os.path.join(root, T1.identifier(), "ddl.sql")).read()
    assert ddl.count("truncate table") == 2
    assert ddl.count("create table") == 1


def test_ddl_spool_same_process_redelivery_resets_ordinals(spark, tmp_path):
    """Review regression: a same-process re-delivery of a failed batch
    (query restarted, sink object retained) must restart DDL ordinals at 0
    — the runner calls DdlSpoolPosition.reset() at batch start — or replay
    detection compares the wrong positions and re-applies the group."""
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    root = str(tmp_path / "odps")
    trunc = TruncateTableEvent(T1)
    batch = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])

    sink = MaxComputeSink(root, num_buckets=2)
    app = sink.metadata_applier()
    app.batch_ctx = "stream_7"
    app.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    app.apply_schema_change(T1, trunc, S1)
    sink.write(T1, batch, S1, batch_id="stream_7s0")

    # query "fails" and batch 7 is re-delivered on the SAME sink object
    sink._ddl_pos.reset()  # what the runner does at every batch start
    app2 = sink.metadata_applier()
    app2.batch_ctx = "stream_7"
    app2.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    app2.apply_schema_change(T1, trunc, S1)  # replay: must NOT wipe
    sink.write(T1, batch, S1, batch_id="stream_7s0")  # marker no-op
    assert _rows_read(sink, spark, T1, S1) == {(1, "a")}
    ddl = open(os.path.join(root, T1.identifier(), "ddl.sql")).read()
    assert ddl.count("truncate table") == 1


def test_ddl_spool_no_batch_ctx_always_applies(spark, tmp_path):
    """Review regression: without a batch ctx (direct API use) replay
    cannot be distinguished from a genuinely new identical group — the
    old null==null comparison skipped a fresh process's first identical
    group, silently dropping its data-plane effect."""
    from source_flink_cdc_3_5_0_spark.sinks.maxcompute import MaxComputeSink

    root = str(tmp_path / "odps")
    trunc = TruncateTableEvent(T1)
    batch = _batch_df(spark, S1, [DataChangeEvent.insert(T1, (1, "a"))])

    sink = MaxComputeSink(root, num_buckets=2)
    app = sink.metadata_applier()  # batch_ctx stays None
    app.apply_schema_change(T1, CreateTableEvent(T1, S1), S1)
    app.apply_schema_change(T1, trunc, S1)
    sink.write(T1, batch, S1, batch_id="b0")

    # a NEW process issues a genuinely new identical truncate: must apply
    sink2 = MaxComputeSink(root, num_buckets=2)
    app2 = sink2.metadata_applier()
    app2.apply_schema_change(T1, trunc, S1)
    assert _rows_read(sink2, spark, T1, S1) == set()
    ddl = open(os.path.join(root, T1.identifier(), "ddl.sql")).read()
    assert ddl.count("truncate table") == 2


def test_ddl_ctx_pinned_across_segment_batch_ids(spark):
    """Review regression: DDL issued from data-time sink evolution inside a
    SEGMENTED _process_data (exe.batches_run = '<N>s<seg>') must still
    stamp the PARENT batch ctx — the segment id would clobber the spool
    marker's group list that crash-replay detection depends on."""
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.streaming.runner import StreamingPipeline

    seen = []

    class CaptureSink(MemorySink):
        def metadata_applier(self):
            ap = super().metadata_applier()
            orig = ap.apply_schema_change

            def spy(table_id, event, evolved):
                seen.append(ap.batch_ctx)
                return orig(table_id, event, evolved)
            ap.apply_schema_change = spy
            return ap

    pipe = StreamingPipeline.create(spark, CaptureSink(), "/tmp/ddlctx_ckpt")
    exe = pipe._execution()
    exe.run_id = "stream"
    exe.batches_run = "7s1"          # mid-segment data processing
    exe.ddl_batch_ctx = "stream_7"   # pinned by the runner at batch start
    exe._evolve_sink_table(T1, S1)   # data-time evolution issues DDL
    assert seen == ["stream_7"]      # parent ctx, not 'stream_7s1'


def test_elasticsearch_sink_posts_bulk_to_live_endpoint(spark):
    """Round 10: with `hosts` set the sink POSTs real HTTP _bulk bodies
    and the toy endpoint's materialized store equals the changelog's
    final state — upserts applied, deletes removed, per-item results
    checked."""
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.elasticsearch import (
        ElasticsearchBulkSink, ToyElasticsearchServer)
    from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL

    import pyspark.sql.functions as F

    tid = TableId.parse("shop.users")
    rows = [
        (1, "ann", "+I", 1), (2, "bob", "+I", 2), (3, "cy", "+I", 3),
        (2, "bob2", "+U", 4),                      # upsert
        (3, "cy", "-D", 5),                        # delete
    ]
    df = spark.createDataFrame(
        rows, "id BIGINT, name STRING, __op STRING, __seq BIGINT")
    schema = Schema.from_struct_type(
        df.drop("__op", SEQ_COL).schema, primary_keys=["id"])
    with ToyElasticsearchServer() as es:
        sink = ElasticsearchBulkSink(hosts=es.endpoint)
        sink.write(tid, df, schema, batch_id=0)
        assert es.store["shop.users"] == {
            "1": {"id": 1, "name": "ann"},
            "2": {"id": 2, "name": "bob2"},
        }
    # item-level failures surface by name, never silently dropped
    with ToyElasticsearchServer(fail_ids={"2"}) as es:
        sink = ElasticsearchBulkSink(hosts=es.endpoint)
        with pytest.raises(ValueError,
                           match="_bulk item failed.*circuit_breaking"):
            sink.write(tid, df, schema, batch_id=0)
    # unreachable hosts raise by name too
    sink = ElasticsearchBulkSink(hosts="127.0.0.1:1")
    with pytest.raises(ValueError, match="no elasticsearch host"):
        sink.write(tid, df, schema, batch_id=0)


def test_stream_load_sinks_put_to_live_frontend(spark):
    """Round 10: Doris/StarRocks Stream Load over real HTTP — label
    dedup makes a replayed batch a clean no-op (the live twin of the
    spool's atomic-rename marker), both delete-sign dialects apply,
    the FE->BE 307 redirect is followed, and a Fail status raises with
    the server's message."""
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        DorisStreamLoadSink, StarRocksStreamLoadSink, ToyStreamLoadFrontend)

    tid = TableId.parse("shop.users")
    rows = [
        (1, "ann", "+I", 1), (2, "bob", "+I", 2), (3, "cy", "+I", 3),
        (2, "bob2", "+U", 4), (3, "cy", "-D", 5),
    ]
    df = spark.createDataFrame(
        rows, "id BIGINT, name STRING, __op STRING, __seq BIGINT")
    schema = Schema.from_struct_type(
        df.drop("__op", "__seq").schema, primary_keys=["id"])
    expect = {(1,): {"id": 1, "name": "ann"},
              (2,): {"id": 2, "name": "bob2"}}
    for sink_cls in (DorisStreamLoadSink, StarRocksStreamLoadSink):
        with ToyStreamLoadFrontend({"shop.users": ["id"]}) as fe:
            sink = sink_cls(frontend=fe.endpoint)
            sink.write(tid, df, schema, batch_id=0)
            assert fe.store["shop.users"] == expect, sink_cls.__name__
            # replay: same batch id -> same label -> server dedup no-op
            sink.write(tid, df, schema, batch_id=0)
            assert len(fe.labels) == 1
            assert fe.store["shop.users"] == expect
    # the FE->BE redirect path
    with ToyStreamLoadFrontend({"shop.users": ["id"]}, redirect=True) as fe:
        sink = DorisStreamLoadSink(frontend=fe.endpoint)
        sink.write(tid, df, schema, batch_id=7)
        assert fe.store["shop.users"] == expect
    # server-side failure surfaces by name with the server's message
    with ToyStreamLoadFrontend({"shop.users": ["id"]},
                               fail_labels={"cdc-shop_users-9"}) as fe:
        sink = StarRocksStreamLoadSink(frontend=fe.endpoint)
        with pytest.raises(ValueError, match="stream load Fail.*-235"):
            sink.write(tid, df, schema, batch_id=9)
        assert "shop.users" not in fe.store


def test_security_misconfigurations_refused_by_name():
    """Credentials that would silently go unused are a misconfiguration,
    not a default: SASL options without a sasl_* protocol, a CA file on
    a non-TLS protocol, and an ES password without a username all raise
    at construction."""
    from source_flink_cdc_3_5_0_spark.sinks.elasticsearch import (
        ElasticsearchBulkSink)
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer)

    with pytest.raises(ValueError, match="sends no SASL"):
        KafkaWireProducer("h:9092", sasl_username="u", sasl_password="p")
    with pytest.raises(ValueError, match="not TLS"):
        KafkaWireProducer("h:9092", ssl_cafile="/tmp/ca.pem")
    with pytest.raises(ValueError, match="needs sasl_username"):
        KafkaWireProducer("h:9092", security_protocol="sasl_plaintext")
    with pytest.raises(ValueError, match="BOTH username and password"):
        ElasticsearchBulkSink(hosts="h:9200", password="pw")
    with pytest.raises(ValueError, match="BOTH username and password"):
        # username alone used to send the literal password "None"
        ElasticsearchBulkSink(hosts="h:9200", username="elastic")


def test_es_and_stream_load_basic_auth(spark):
    """Round 11: both HTTP sinks carry basic auth — ES behind X-Pack
    security (on by default since ES 8) and Stream Load, whose public
    API requires -u user:passwd. Good credentials materialize; wrong or
    missing ones surface the 401 by name, never a body-dump."""
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.elasticsearch import (
        ElasticsearchBulkSink, ToyElasticsearchServer)
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        DorisStreamLoadSink, ToyStreamLoadFrontend)

    tid = TableId.parse("shop.users")
    df = spark.createDataFrame(
        [(1, "ann", "+I", 1)],
        "id BIGINT, name STRING, __op STRING, __seq BIGINT")
    schema = Schema.from_struct_type(
        df.drop("__op", "__seq").schema, primary_keys=["id"])

    with ToyElasticsearchServer(auth=("elastic", "pw1")) as es:
        ElasticsearchBulkSink(hosts=es.endpoint, username="elastic",
                              password="pw1").write(tid, df, schema, 0)
        assert es.store["shop.users"] == {"1": {"id": 1, "name": "ann"}}
        with pytest.raises(ValueError, match="refused the credentials"):
            ElasticsearchBulkSink(hosts=es.endpoint, username="elastic",
                                  password="bad").write(tid, df, schema, 0)
        with pytest.raises(ValueError, match="refused the credentials"):
            ElasticsearchBulkSink(hosts=es.endpoint).write(
                tid, df, schema, 0)

    # HTTPS ES (the version-8 default posture): CA-pinned TLS + auth
    with ToyElasticsearchServer(tls=True, auth=("elastic", "pw1")) as es:
        assert es.endpoint.startswith("https://")
        ElasticsearchBulkSink(hosts=es.endpoint, username="elastic",
                              password="pw1", ca_cert=es.ca_cert) \
            .write(tid, df, schema, 0)
        assert es.store["shop.users"] == {"1": {"id": 1, "name": "ann"}}

    with ToyStreamLoadFrontend({"shop.users": ["id"]},
                               auth=("root", "s3cret")) as fe:
        DorisStreamLoadSink(frontend=fe.endpoint, username="root",
                            password="s3cret").write(tid, df, schema, 0)
        assert fe.store["shop.users"] == {(1,): {"id": 1, "name": "ann"}}
        with pytest.raises(ValueError, match="refused the credentials"):
            DorisStreamLoadSink(frontend=fe.endpoint, username="root",
                                password="no").write(tid, df, schema, 1)
    # auth also rides the FE->BE redirect
    with ToyStreamLoadFrontend({"shop.users": ["id"]}, redirect=True,
                               auth=("root", "s3cret")) as fe:
        DorisStreamLoadSink(frontend=fe.endpoint, username="root",
                            password="s3cret").write(tid, df, schema, 2)
        assert fe.store["shop.users"] == {(1,): {"id": 1, "name": "ann"}}


def test_kafka_protocol_known_answers():
    """CRC32C against the RFC 3720 vector; murmur2 against Kafka's own
    Utils test vectors (Java signed ints); batch corrupt-CRC refusal."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        crc32c, decode_record_batch, encode_record_batch, murmur2)

    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0

    def signed(x):
        return x - (1 << 32) if x >= (1 << 31) else x

    # org.apache.kafka.common.utils.UtilsTest.testMurmur2
    assert signed(murmur2(b"21")) == -973932308
    assert signed(murmur2(b"foobar")) == -790332482
    assert signed(murmur2(b"a-little-bit-long-string")) == -985981536
    assert signed(murmur2(
        b"a-little-bit-longer-string")) == -1486304829
    assert signed(murmur2(
        b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8")) == -58897971
    assert signed(murmur2(bytes([ord("a"), ord("b"), ord("c")]))) \
        == 479470107
    batch = bytearray(encode_record_batch([(b"k", b"v", [])]))
    batch[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C mismatch"):
        decode_record_batch(bytes(batch))


def test_kafka_fast_kernels_match_reference_loops():
    """The r11 fast paths (numpy striped CRC32C, murmur2_bulk) must be
    bit-exact with the byte-at-a-time reference algorithms at every
    size class, INCLUDING the >=32 KiB numpy-kernel threshold, the
    stripe boundary remainders, and a non-zero incremental seed."""
    import random

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        _CRC32C_TABLE, crc32c, murmur2, murmur2_bulk)

    def crc_ref(data, crc=0):
        crc = ~crc & 0xFFFFFFFF
        for b in data:
            crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
        return ~crc & 0xFFFFFFFF

    rnd = random.Random(20260817)
    assert crc32c(bytes(32)) == 0x8A9136AA  # RFC 3720 zero vector
    for n in (0, 1, 3, 1023, 1024, 1025, 32767, 32768, 32769,
              33000, 65536 + 17, 131072 + 1021):
        d = rnd.randbytes(n)
        assert crc32c(d) == crc_ref(d), n
        seed = rnd.getrandbits(32)
        assert crc32c(d, seed) == crc_ref(d, seed), ("seed", n)

    keys = [rnd.randbytes(rnd.choice(
        (0, 1, 2, 3, 4, 5, 7, 8, 11, 16, 23, 64))) for _ in range(2000)]
    assert murmur2_bulk(keys) == [murmur2(k) for k in keys]


def test_kafka_sink_produces_over_the_real_wire(spark):
    """Round 10: with bootstrap.servers set the sink speaks the actual
    Kafka protocol — Metadata + Produce v3, v2 record batches, CRC32C
    verified broker-side; hash-by-key routing matches the default
    murmur2 partitioner, all-to-zero pins partition 0, headers ride
    along, and broker errors raise by Kafka's own error name."""
    import json

    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        ToyKafkaBroker, murmur2)

    tid = TableId.parse("shop.users")
    rows = [(1, "ann", "+I", 1), (2, "bob", "+I", 2), (2, "bob2", "+U", 3)]
    df = spark.createDataFrame(
        rows, "id BIGINT, name STRING, __op STRING, __seq BIGINT")
    schema = Schema.from_struct_type(
        df.drop("__op", "__seq").schema, primary_keys=["id"])
    # all-to-zero (default): every record on partition 0, total order
    with ToyKafkaBroker() as br:
        sink = KafkaChangelogSink(bootstrap_servers=br.bootstrap,
                                  add_table_to_header=True)
        sink.write(tid, df, schema, batch_id=0)
        log = br.log["shop.users"]
        assert [len(v) for p, v in sorted(log.items())] == [3, 0, 0]
        vals = [json.loads(v.decode()) for _o, _k, v, _h in log[0]]
        assert sorted((d["op"], d["after"]["id"]) for d in vals) == \
            [("c", 1), ("c", 2), ("u", 2)]
        assert ("tableName", b"users") in log[0][0][3]
    # hash-by-key: records land on murmur2(key) partitions
    with ToyKafkaBroker(num_partitions=4) as br:
        sink = KafkaChangelogSink(bootstrap_servers=br.bootstrap,
                                  partition_strategy="hash-by-key")
        sink.write(tid, df, schema, batch_id=0)
        for pid, entries in br.log["shop.users"].items():
            for _o, k, _v, _h in entries:
                # Kafka's DefaultPartitioner
                assert (murmur2(k) & 0x7FFFFFFF) % 4 == pid
    # broker-side errors surface with Kafka's error name
    with ToyKafkaBroker(fail_topics={"shop.users"}) as br:
        sink = KafkaChangelogSink(bootstrap_servers=br.bootstrap)
        with pytest.raises(ValueError, match="NOT_LEADER"):
            sink.write(tid, df, schema, batch_id=0)


def test_kafka_wire_to_wire_loop(spark, tmp_path):
    """Round 10: changelog -> kafka sink over the REAL protocol (Produce
    v3) -> toy broker -> kafka SOURCE over the real protocol (Fetch v4,
    `protocol: wire`) -> pipeline -> memory sink. The final state must
    equal the changelog's direct materialization — the full loop rides
    actual wire bytes both directions."""
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        ToyKafkaBroker, dump_kafka_topic)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    tid = TableId.parse("db.users")
    rows = [(1, "ann", "+I", 1), (2, "bob", "+I", 2),
            (2, "bob2", "+U", 3), (1, "ann", "-D", 4)]
    df = spark.createDataFrame(
        rows, "id BIGINT, name STRING, __op STRING, __seq BIGINT")
    schema = Schema.from_struct_type(
        df.drop("__op", "__seq").schema, primary_keys=["id"])
    with ToyKafkaBroker() as br:
        KafkaChangelogSink(bootstrap_servers=br.bootstrap,
                           topic="cdc.users") \
            .write(tid, df, schema, batch_id=0)
        yaml_text = f"""
source:
  type: kafka
  protocol: wire
  bootstrap-servers: {br.bootstrap}
  topics: cdc.users
  tables: '{{"db.users": "id BIGINT, name STRING"}}'
  primary-keys: '{{"db.users": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
        sink = MemorySink()
        pipe, raw, tables = PipelineComposer(spark).compose_streaming(
            parse_yaml_pipeline(yaml_text), sink=sink)
        pipe.start(raw, tables).awaitTermination(120)
        # a re-dump resumes at the spooled offsets: no duplicate lines
        again = dump_kafka_topic(br.bootstrap, "cdc.users",
                                 str(tmp_path / "ckpt" / "kafka-spool"))
        assert again == [], again
    assert sink.snapshot(TableId.parse("db.users")) == ["2, bob2"]


def test_kafka_record_batch_property_roundtrip():
    """Arbitrary key/value/header shapes survive encode -> decode (and
    the broker's re-framed Fetch path shifts only the base offset)."""
    from hypothesis import given, settings, strategies as st

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        decode_record_batch, decode_record_batches, encode_record_batch)

    blob = st.one_of(st.none(), st.binary(max_size=200))
    header = st.tuples(st.text(max_size=10), st.binary(max_size=20))
    rec = st.tuples(blob, blob, st.lists(header, max_size=3))

    @given(st.lists(rec, min_size=1, max_size=20),
           st.integers(min_value=0, max_value=1 << 40))
    @settings(max_examples=60, deadline=None)
    def check(records, base):
        records = [(k, v, list(h)) for k, v, h in records]
        assert decode_record_batch(encode_record_batch(records)) == records
        shifted = decode_record_batches(
            encode_record_batch(records, base_offset=base))
        assert [o for o, *_ in shifted] == \
            list(range(base, base + len(records)))

    check()


def test_kafka_batch_compression_roundtrip():
    """All five registered codecs roundtrip (round 11 closes
    snappy/lz4); the CRC covers the COMPRESSED bytes (corrupting them
    raises); unknown codec ids refuse BY NAME, not with a varint/CRC
    complaint (verdict r10 item 2)."""
    import struct

    from source_flink_cdc_3_5_0_spark.common import lz4_binding, zstd_binding
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        decode_record_batch, encode_record_batch, iter_record_batches)

    records = [(b"k%d" % i, b"v" * 100, [("h", b"x")]) for i in range(20)]
    codecs = ["none", "gzip", "snappy"]
    codecs += ["lz4"] if lz4_binding.available() else []
    codecs += ["zstd"] if zstd_binding.available() else []
    for codec in codecs:
        batch = encode_record_batch(records, compression=codec)
        assert decode_record_batch(batch) == records
        info = iter_record_batches(batch)[0]
        assert info["codec"] == codec
        if codec != "none":
            # compression actually happened (100-byte runs of 'v')
            assert len(batch) < len(encode_record_batch(records))
        # CRC is over the wire bytes: flip one byte in the records blob
        corrupt = bytearray(batch)
        corrupt[-1] ^= 0xFF
        with pytest.raises(ValueError, match="CRC32C"):
            decode_record_batch(bytes(corrupt))

    # unknown codec id (5): refusal names it BEFORE any record walk
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import crc32c
    b = bytearray(encode_record_batch(records))
    b[22] = (b[22] & ~0x07) | 5  # attrs low byte (offset 21-22)
    struct.pack_into(">I", b, 17, crc32c(bytes(b[21:])))
    with pytest.raises(ValueError, match="unknown kafka compression"):
        decode_record_batch(bytes(b))


def test_kafka_partial_trailing_batch():
    """fetch.max.bytes semantics: a broker may cut the LAST batch of a
    Fetch response mid-bytes. The batch walk ignores the partial tail
    only where the protocol says to (the Fetch path); everywhere else
    truncation stays a named error — and the paginated consumer still
    drains every record, re-reading the cut batch whole next fetch."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, encode_record_batch,
        iter_record_batches)

    b1 = encode_record_batch([(b"k1", b"v1", [])])
    b2 = encode_record_batch([(b"k2", b"v2", [])], base_offset=1)
    cut = b1 + b2[:len(b2) // 2]
    # strict (Produce/spool shape): truncation is an error by name
    with pytest.raises(ValueError, match="remain|truncated"):
        iter_record_batches(cut)
    # Fetch shape: the partial tail is ignored, the whole batch survives
    got = iter_record_batches(cut, allow_trailing_partial=True)
    assert [r for b in got for r in b["records"]] == \
        [(0, b"k1", b"v1", [])]
    # a cut INSIDE the only batch yields nothing (and no crash)
    assert iter_record_batches(b1[:10], allow_trailing_partial=True) == []

    # e2e: tiny fetch.max.bytes forces mid-batch cuts every fetch; the
    # offset-paginated drain still sees every record exactly once
    records = [(b"k%02d" % i, b"x" * 200, []) for i in range(12)]
    with ToyKafkaBroker(num_partitions=1, fetch_max_bytes=400) as br:
        prod = KafkaWireProducer(br.bootstrap)
        for k, v, h in records:  # one batch per record -> many batches
            prod.produce("t", [(k, v, h)], partition=0)
        got = KafkaWireProducer(br.bootstrap).fetch_all("t")[0]
    assert [(k, v) for _o, k, v, _h in got] == \
        [(k, v) for k, v, _h in records]


def test_kafka_sasl_and_tls():
    """Round 11: the wire client speaks the security layers a real
    deployment turns on — SASL PLAIN and SCRAM-SHA-256 (KIP-152
    SaslHandshake + SaslAuthenticate framing; SCRAM rides the same RFC
    5802 primitives as the PG transport, server signature verified) and
    TLS with a CA-pinned broker cert. Wrong credentials fail by Kafka's
    own error name, unknown users don't oracle, and a data API before
    authentication drops the session."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker)

    recs = [(b"k%d" % i, b"v%d" % i, []) for i in range(10)]

    def client(br, **kw):
        return KafkaWireProducer(br.bootstrap, **kw)

    with ToyKafkaBroker(num_partitions=1,
                        sasl_users={"alice": "pw1"}) as br:
        good = dict(security_protocol="sasl_plaintext",
                    sasl_mechanism="PLAIN",
                    sasl_username="alice", sasl_password="pw1")
        client(br, **good).produce("t", recs, partition=0)
        assert len(client(br, **good).fetch_all("t")[0]) == 10
        with pytest.raises(ValueError, match="Invalid username or"):
            client(br, **{**good, "sasl_password": "wrong"}).metadata("t")
        with pytest.raises((ValueError, ConnectionError)):
            client(br).metadata("t")  # unauthenticated: session dropped

    with ToyKafkaBroker(num_partitions=1,
                        sasl_users={"bob": "s3cret"}) as br:
        good = dict(security_protocol="sasl_plaintext",
                    sasl_mechanism="SCRAM-SHA-256",
                    sasl_username="bob", sasl_password="s3cret")
        client(br, **good).produce("t", recs, partition=0)
        assert len(client(br, **good).fetch_all("t")[0]) == 10
        with pytest.raises(ValueError, match="Invalid username or"):
            client(br, **{**good, "sasl_password": "no"}).metadata("t")
        with pytest.raises(ValueError, match="Invalid username or"):
            client(br, **{**good, "sasl_username": "eve"}).metadata("t")

    with ToyKafkaBroker(num_partitions=1, tls=True,
                        sasl_users={"alice": "pw1"}) as br:
        good = dict(security_protocol="sasl_ssl",
                    sasl_mechanism="SCRAM-SHA-256",
                    sasl_username="alice", sasl_password="pw1",
                    ssl_cafile=br.ca_cert)
        client(br, **good).produce("t", recs, partition=0)
        assert len(client(br, **good).fetch_all("t")[0]) == 10

    with ToyKafkaBroker(num_partitions=1, tls=True) as br:
        c = client(br, security_protocol="ssl", ssl_cafile=br.ca_cert)
        c.produce("t", recs, partition=0)
        assert len(c.fetch_all("t")[0]) == 10


def test_kafka_yaml_sasl_ssl_pipeline_e2e(spark, tmp_path):
    """The full user surface under security: changelog sink produces
    over SASL_SSL + SCRAM-SHA-256 with snappy batches; the YAML
    `protocol: wire` source drains the same broker with the matching
    `properties.*` security options; every row materializes."""
    import json

    from pyspark.sql import functions as F

    import source_flink_cdc_3_5_0_spark.entry_queries as EQ
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        ToyKafkaBroker)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    sf = "/root/testdata/sf0.001"
    cust = EQ.load(spark, sf, "customer")
    env = cust.select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_name",
        F.lit("+I").alias(EQ.OP_COL),
        F.lit(1).cast("long").alias(EQ.SEQ_COL))
    schema = EQ.Schema.from_struct_type(
        env.drop(EQ.OP_COL, EQ.SEQ_COL).schema,
        primary_keys=["c_custkey"])
    with ToyKafkaBroker(num_partitions=3, tls=True,
                        sasl_users={"cdc": "pw9"}) as br:
        KafkaChangelogSink(
            bootstrap_servers=br.bootstrap, topic="cdc.customer",
            partition_strategy="hash-by-key",
            kafka_options={"compression.type": "snappy",
                           "security.protocol": "sasl_ssl",
                           "sasl.mechanism": "SCRAM-SHA-256",
                           "sasl.username": "cdc",
                           "sasl.password": "pw9",
                           "ssl.ca.location": br.ca_cert}) \
            .write(TableId.parse("tpch.customer"), env, schema,
                   batch_id=0)
        yaml_text = f"""
source:
  type: kafka
  protocol: wire
  bootstrap-servers: {br.bootstrap}
  topics: cdc.customer
  checkpoint: {tmp_path}/ckpt
  properties.security.protocol: sasl_ssl
  properties.sasl.mechanism: SCRAM-SHA-256
  properties.sasl.username: cdc
  properties.sasl.password: pw9
  properties.ssl.ca.location: {br.ca_cert}
  tables: '{json.dumps({"tpch.customer":
                        "c_custkey BIGINT, c_name STRING"})}'
  primary-keys: '{{"tpch.customer": ["c_custkey"]}}'
sink: {{type: values}}
"""
        composer = PipelineComposer(spark)
        sink = MemorySink()
        pipe, raw, tables = composer.compose_streaming(
            parse_yaml_pipeline(yaml_text), sink=sink)
        q = pipe.start(raw, tables)
        q.awaitTermination(180)
    assert len(sink.snapshot(TableId.parse("tpch.customer"))) == 150


def test_kafka_snappy_lz4_wire_to_wire():
    """snappy- and lz4-produced topics drain through the real socket
    path — the exact production shape that used to die on the named
    refusal."""
    from source_flink_cdc_3_5_0_spark.common import lz4_binding
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker)

    codecs = ["snappy"] + (["lz4"] if lz4_binding.available() else [])
    records = [(b"k%d" % i, b"payload %d " % i * 30, []) for i in range(50)]
    with ToyKafkaBroker(num_partitions=1) as br:
        prod = KafkaWireProducer(br.bootstrap)
        for codec in codecs:
            topic = "t-%s" % codec
            prod.produce(topic, records, compression=codec)
            got = KafkaWireProducer(br.bootstrap).fetch_all(topic)[0]
            assert [(k, v) for _o, k, v, _h in got] == \
                [(k, v) for k, v, _h in records]


def test_kafka_control_batches_and_read_committed():
    """Transactional produce through the toy broker: control markers
    never surface as data, READ_UNCOMMITTED sees aborted data,
    READ_COMMITTED filters it via the Fetch aborted-txn index — the
    client-side algorithm a real consumer runs."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, encode_control_batch,
        encode_record_batch)

    def send_raw(broker, topic, pid, batch):
        # drive the broker's real Produce path with a pre-built batch
        import socket
        import struct as S

        from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
            _bytes32, _recv_response, _send_request, _str)

        body = (_str(None) + S.pack(">hi", -1, 30000)
                + S.pack(">i", 1) + _str(topic) + S.pack(">i", 1)
                + S.pack(">i", pid) + _bytes32(batch))
        with socket.create_connection((broker.host, broker.port), 10) as s:
            _send_request(s, 0, 3, 1, body)
            _recv_response(s)

    with ToyKafkaBroker(num_partitions=1) as br:
        c = KafkaWireProducer(br.bootstrap)
        c.metadata("t")  # auto-create
        # committed txn from producer 7: offsets 0-1 + marker at 2
        send_raw(br, "t", 0, encode_record_batch(
            [(b"a", b"1", []), (b"b", b"2", [])],
            is_transactional=True, producer_id=7))
        send_raw(br, "t", 0, encode_control_batch("commit", producer_id=7))
        # aborted txn from producer 9: offsets 3-4 + abort marker at 5
        send_raw(br, "t", 0, encode_record_batch(
            [(b"c", b"3", []), (b"d", b"4", [])],
            is_transactional=True, producer_id=9))
        send_raw(br, "t", 0, encode_control_batch("abort", producer_id=9))
        # plain data after both txns
        c.produce("t", [(b"e", b"5", [])], partition=0)

        assert [(p, f) for p, f, _m in br.aborted["t"][0]] == [(9, 3)]
        uncommitted = c.fetch_all("t", isolation_level=0)[0]
        committed = c.fetch_all("t", isolation_level=1)[0]
        # markers invisible at BOTH levels; aborted data only at RU
        assert [v for _o, _k, v, _h in uncommitted] == \
            [b"1", b"2", b"3", b"4", b"5"]
        assert [v for _o, _k, v, _h in committed] == [b"1", b"2", b"5"]
        # offsets are log positions, with marker gaps preserved
        assert [o for o, *_ in uncommitted] == [0, 1, 3, 4, 6]
        assert [o for o, *_ in committed] == [0, 1, 6]


def test_kafka_read_committed_paginated_drain():
    """Round-11 review findings #1 and #2, both reproduced then fixed:
    (1) a fetch window that yields ZERO visible records (all aborted
    data / control markers) must still advance the cursor — keying the
    advance on visible records stopped the drain and silently dropped
    everything after the window; (2) the broker must scope the
    aborted-transactions index to the fetched range — serving an entry
    whose abort marker precedes the fetch offset made the client drop
    COMMITTED batches on every resumed/paginated READ_COMMITTED read."""
    import socket
    import struct as S

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, _bytes32, _recv_response,
        _send_request, _str, encode_control_batch, encode_record_batch)

    def send_raw(broker, topic, pid, batch):
        body = (_str(None) + S.pack(">hi", -1, 30000)
                + S.pack(">i", 1) + _str(topic) + S.pack(">i", 1)
                + S.pack(">i", pid) + _bytes32(batch))
        with socket.create_connection((broker.host, broker.port), 10) as s:
            _send_request(s, 0, 3, 1, body)
            _recv_response(s)

    def seed(br):
        c = KafkaWireProducer(br.bootstrap)
        c.metadata("t")
        # aborted txn (offsets 0-2) + abort marker (3), then committed
        # txn (4-6) + commit marker (7)
        send_raw(br, "t", 0, encode_record_batch(
            [(b"x", b"bad%d" % i, []) for i in range(3)],
            is_transactional=True, producer_id=7))
        send_raw(br, "t", 0, encode_control_batch("abort", producer_id=7))
        send_raw(br, "t", 0, encode_record_batch(
            [(b"y", b"good%d" % i, []) for i in range(3)],
            is_transactional=True, producer_id=7))
        send_raw(br, "t", 0, encode_control_batch("commit",
                                                  producer_id=7))
        return c

    # finding #2 shape: resume PAST the abort marker — the stale
    # aborted entry must not be served / must not swallow the
    # committed batch
    with ToyKafkaBroker(num_partitions=1) as br:
        c = seed(br)
        _hw, got, _adv = c.fetch("t", 0, 4, isolation_level=1)
        assert [v for _o, _k, v, _h in got] == \
            [b"good0", b"good1", b"good2"]

    # finding #1 shape: a byte cap that makes the FIRST window all
    # aborted data — the drain must advance through it and still
    # deliver every committed record
    with ToyKafkaBroker(num_partitions=1, fetch_max_bytes=60) as br:
        c = seed(br)
        got = c.fetch_all("t", isolation_level=1)[0]
        assert [v for _o, _k, v, _h in got] == \
            [b"good0", b"good1", b"good2"]
        # READ_UNCOMMITTED through the same capped windows sees all six
        got_ru = c.fetch_all("t", isolation_level=0)[0]
        assert len(got_ru) == 6


def test_kafka_spool_legacy_refused_by_name(tmp_path):
    """Round-11 review (both rounds): a legacy un-prefixed spool file's
    topic is unknowable — adopting its watermark for the wrong topic
    (a second topic in the config, or the single topic renamed)
    silently skips records. Every dump against such a spool refuses
    with migration instructions; topics legally NAMED 'part-*' are not
    mistaken for legacy files."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, dump_kafka_topic)

    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "part-00000.50.jsonl").write_text("legacy\n")
    with ToyKafkaBroker(num_partitions=1) as br:
        prod = KafkaWireProducer(br.bootstrap)
        prod.produce("a", [(b"k", b"va", [])], partition=0)
        with pytest.raises(ValueError, match="unknowable"):
            dump_kafka_topic(br.bootstrap, "a", str(spool))
        # a topic NAMED 'part-events' writes prefixed files that must
        # not be misread as legacy (they contain '.part-')
        clean = tmp_path / "clean"
        prod.produce("part-events", [(b"k", b"pe", [])], partition=0)
        assert dump_kafka_topic(br.bootstrap, "part-events",
                                str(clean)) \
            == ["part-events.part-00000.1.jsonl"]
        # and re-dumping against its own files neither refuses nor
        # duplicates
        assert dump_kafka_topic(br.bootstrap, "part-events",
                                str(clean)) == []


def test_kafka_api_versions_probe():
    """A real client's first request on any connection is ApiVersions
    (key 18) — the toy broker answers it (before authentication too)
    instead of dropping the session, advertising exactly the api/version
    ranges it serves."""
    import socket
    import struct as S

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        _SUPPORTED_APIS, ToyKafkaBroker, _recv_response, _send_request)

    def probe(br):
        with socket.create_connection((br.host, br.port), 10) as s:
            _send_request(s, 18, 0, 1, b"")
            _corr, payload = _recv_response(s)
        err = S.unpack_from(">h", payload)[0]
        n = S.unpack_from(">i", payload, 2)[0]
        apis = [S.unpack_from(">hhh", payload, 6 + i * 6)
                for i in range(n)]
        return err, apis

    with ToyKafkaBroker() as br:
        err, apis = probe(br)
        assert err == 0 and apis == [tuple(a) for a in _SUPPORTED_APIS]
    # legal BEFORE SASL authentication as well
    with ToyKafkaBroker(sasl_users={"u": "p"}) as br:
        err, apis = probe(br)
        assert err == 0 and len(apis) == len(_SUPPORTED_APIS)


def test_kafka_open_transaction_gated_at_lso():
    """Round-11 review, round two #3: a READ_COMMITTED fetch must never
    be served bytes from a still-open transaction — whether that data
    commits is undecided, and spooling it then seeing the abort is
    unrepairable. The broker gates the response at the last stable
    offset; once the marker lands, the data flows (or stays hidden
    forever if aborted)."""
    import socket
    import struct as S

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, _bytes32, _recv_response,
        _send_request, _str, encode_control_batch, encode_record_batch)

    def send_raw(broker, topic, pid, batch):
        body = (_str(None) + S.pack(">hi", -1, 30000)
                + S.pack(">i", 1) + _str(topic) + S.pack(">i", 1)
                + S.pack(">i", pid) + _bytes32(batch))
        with socket.create_connection((broker.host, broker.port),
                                      10) as s:
            _send_request(s, 0, 3, 1, body)
            _recv_response(s)

    with ToyKafkaBroker(num_partitions=1) as br:
        c = KafkaWireProducer(br.bootstrap)
        c.produce("t", [(b"k", b"plain", [])], partition=0)
        # transactional batch WITHOUT its marker yet
        send_raw(br, "t", 0, encode_record_batch(
            [(b"k", b"pending", [])],
            is_transactional=True, producer_id=5))
        rc = [v for _o, _k, v, _h
              in c.fetch_all("t", isolation_level=1)[0]]
        assert rc == [b"plain"]  # open txn invisible
        ru = [v for _o, _k, v, _h
              in c.fetch_all("t", isolation_level=0)[0]]
        assert ru == [b"plain", b"pending"]  # RU sees in-flight data
        # commit marker arrives -> the data becomes stable and flows
        send_raw(br, "t", 0, encode_control_batch("commit",
                                                  producer_id=5))
        rc = [v for _o, _k, v, _h
              in c.fetch_all("t", isolation_level=1)[0]]
        assert rc == [b"plain", b"pending"]


def test_kafka_api_versions_unsupported_version():
    """A probe at a version the toy doesn't speak answers
    UNSUPPORTED_VERSION (35) in the v0 body — the negotiation contract
    real clients rely on to fall back to v0."""
    import socket
    import struct as S

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        ToyKafkaBroker, _recv_response, _send_request)

    with ToyKafkaBroker() as br:
        with socket.create_connection((br.host, br.port), 10) as s:
            _send_request(s, 18, 3, 1, b"")
            _corr, payload = _recv_response(s)
    assert S.unpack_from(">h", payload)[0] == 35
    assert S.unpack_from(">i", payload, 2)[0] > 0  # versions still listed


def test_kafka_corrupt_batch_length_refused_by_name():
    """Round-11 review finding #6: a bit-flipped batchLength below the
    49-byte v2 header minimum (or overrunning the buffer in strict
    mode) must raise the named ValueError, never a bare struct.error."""
    import struct as S

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        encode_record_batch, iter_record_batches, split_record_batches)

    batch = bytearray(encode_record_batch([(b"k", b"v", [])]))
    small = bytearray(batch)
    S.pack_into(">i", small, 8, 20)  # below header minimum
    with pytest.raises(ValueError, match="49-byte"):
        iter_record_batches(bytes(small) + bytes(batch))
    with pytest.raises(ValueError, match="remain"):
        split_record_batches(bytes(batch)[:-5])


@given(st.data())
@settings(max_examples=25, deadline=None)
def test_kafka_paginated_drain_property(data):
    """Random interleavings of plain data, committed and aborted
    transactions from multiple producers, drained through random
    fetch.max.bytes windows: fetch_all(READ_COMMITTED) must equal the
    model's committed set and fetch_all(READ_UNCOMMITTED) everything,
    regardless of where the byte cap cuts — the generalization of the
    round-11 review's two reproduced findings."""
    import socket
    import struct as S

    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, _bytes32, _recv_response,
        _send_request, _str, encode_control_batch, encode_record_batch)

    def send_raw(broker, topic, pid, batch):
        body = (_str(None) + S.pack(">hi", -1, 30000)
                + S.pack(">i", 1) + _str(topic) + S.pack(">i", 1)
                + S.pack(">i", pid) + _bytes32(batch))
        with socket.create_connection((broker.host, broker.port),
                                      10) as s:
            _send_request(s, 0, 3, 1, body)
            _recv_response(s)

    n_steps = data.draw(st.integers(1, 8))
    cap = data.draw(st.one_of(st.none(), st.integers(60, 500)))
    committed_model, all_model = [], []
    seq = 0
    with ToyKafkaBroker(num_partitions=1, fetch_max_bytes=cap) as br:
        c = KafkaWireProducer(br.bootstrap)
        c.metadata("t")
        for _ in range(n_steps):
            kind = data.draw(st.sampled_from(["plain", "commit",
                                              "abort"]))
            producer = data.draw(st.integers(1, 3))
            nrec = data.draw(st.integers(1, 4))
            vals = [b"v%d" % (seq + i) for i in range(nrec)]
            seq += nrec
            if kind == "plain":
                c.produce("t", [(b"k", v, []) for v in vals],
                          partition=0)
                committed_model += vals
                all_model += vals
            else:
                send_raw(br, "t", 0, encode_record_batch(
                    [(b"k", v, []) for v in vals],
                    is_transactional=True, producer_id=producer))
                send_raw(br, "t", 0, encode_control_batch(
                    kind, producer_id=producer))
                all_model += vals
                if kind == "commit":
                    committed_model += vals
        got_rc = [v for _o, _k, v, _h
                  in c.fetch_all("t", isolation_level=1)[0]]
        got_ru = [v for _o, _k, v, _h
                  in c.fetch_all("t", isolation_level=0)[0]]
    assert got_rc == committed_model, (cap, got_rc, committed_model)
    assert got_ru == all_model


def test_kafka_wire_loop_compressed_batches(spark, tmp_path):
    """The wire-to-wire loop with compressed produce: the sink's
    `properties.compression.type: gzip` (and zstd when libzstd exists)
    rides the batch attributes through the broker and back out of the
    Fetch decode — final materialized state identical to uncompressed."""
    from source_flink_cdc_3_5_0_spark.common import zstd_binding
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        ToyKafkaBroker, iter_record_batches)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    codecs = ["gzip"] + (["zstd"] if zstd_binding.available() else [])
    tid = TableId.parse("db.users")
    rows = [(1, "ann", "+I", 1), (2, "bob", "+I", 2),
            (2, "bob2", "+U", 3), (1, "ann", "-D", 4)]
    df = spark.createDataFrame(
        rows, "id BIGINT, name STRING, __op STRING, __seq BIGINT")
    schema = Schema.from_struct_type(
        df.drop("__op", "__seq").schema, primary_keys=["id"])
    for i, codec in enumerate(codecs):
        with ToyKafkaBroker() as br:
            KafkaChangelogSink(
                bootstrap_servers=br.bootstrap, topic="cdc.users",
                kafka_options={"compression.type": codec}) \
                .write(tid, df, schema, batch_id=0)
            # the broker stored the batch COMPRESSED
            stored = br.raw["cdc.users"][0]
            assert all(iter_record_batches(b)[0]["codec"] == codec
                       for b in stored)
            yaml_text = f"""
source:
  type: kafka
  protocol: wire
  bootstrap-servers: {br.bootstrap}
  topics: cdc.users
  tables: '{{"db.users": "id BIGINT, name STRING"}}'
  primary-keys: '{{"db.users": ["id"]}}'
  checkpoint: {tmp_path}/ckpt{i}
sink: {{type: values}}
"""
            sink = MemorySink()
            pipe, raw, tables = PipelineComposer(spark).compose_streaming(
                parse_yaml_pipeline(yaml_text), sink=sink)
            pipe.start(raw, tables).awaitTermination(120)
        assert sink.snapshot(TableId.parse("db.users")) == ["2, bob2"], codec


def test_kafka_multi_topic_spool_no_collision(tmp_path):
    """Advice r10 HIGH: two topics draining into ONE spool dir must not
    share resume watermarks or file names — topic B's records below
    topic A's max offset were silently skipped before."""
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker, dump_kafka_topic)

    spool = str(tmp_path / "spool")
    with ToyKafkaBroker(num_partitions=1) as br:
        p = KafkaWireProducer(br.bootstrap)
        # topic A gets 5 records first (offsets 0-4)
        p.produce("topic.a", [(b"k", b"a%d" % i, []) for i in range(5)],
                  partition=0)
        dump_kafka_topic(br.bootstrap, "topic.a", spool)
        # topic B has 2 records, ALL below topic A's watermark
        p.produce("topic.b", [(b"k", b"b%d" % i, []) for i in range(2)],
                  partition=0)
        written = dump_kafka_topic(br.bootstrap, "topic.b", spool)
        assert written, "topic B skipped by topic A's watermark"
        lines = []
        for n in sorted(os.listdir(spool)):
            with open(os.path.join(spool, n)) as f:
                lines += [ln.strip() for ln in f]
        assert sorted(lines) == ["a0", "a1", "a2", "a3", "a4", "b0", "b1"]
        # re-dumps of both resume cleanly (no duplicates)
        assert dump_kafka_topic(br.bootstrap, "topic.a", spool) == []
        assert dump_kafka_topic(br.bootstrap, "topic.b", spool) == []
        # legacy single-topic spool names refuse by name (round-11
        # review, round two: silently adopting the watermark for a
        # RENAMED topic skipped its records — the topic of a legacy
        # file is unknowable, so migration is explicit)
        legacy = str(tmp_path / "legacy")
        os.makedirs(legacy)
        with open(os.path.join(legacy, "part-00000.5.jsonl"), "w") as f:
            f.write("a0\n")
        with pytest.raises(ValueError, match="unknowable"):
            dump_kafka_topic(br.bootstrap, "topic.a", legacy)
        # after the prescribed rename, the watermark applies cleanly
        os.rename(os.path.join(legacy, "part-00000.5.jsonl"),
                  os.path.join(legacy, "topic.a.part-00000.5.jsonl"))
        assert dump_kafka_topic(br.bootstrap, "topic.a", legacy) == []


def test_kafka_bootstrap_failover_and_option_warning(tmp_path):
    """Advice r10: the wire client walks the bootstrap list (dead first
    server is not fatal) and unsupported producer properties warn by
    name instead of vanishing."""
    import warnings

    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.kafka_protocol import (
        KafkaWireProducer, ToyKafkaBroker)

    with ToyKafkaBroker(num_partitions=1) as br:
        # dead server first, live broker second
        c = KafkaWireProducer("127.0.0.1:1," + br.bootstrap, timeout=2)
        c.produce("t", [(b"k", b"v", [])], partition=0)
        assert br.log["t"][0][0][2] == b"v"
    # all dead: aggregate connection error naming each endpoint
    c = KafkaWireProducer("127.0.0.1:1,127.0.0.1:2", timeout=1)
    with pytest.raises(ConnectionError, match="127.0.0.1:2"):
        c.metadata("t")

    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
    with ToyKafkaBroker(num_partitions=1) as br:
        sink = KafkaChangelogSink(
            bootstrap_servers=br.bootstrap, topic="t",
            kafka_options={"linger.ms": "5", "acks": "all"})
        import pyspark.sql as _s
        spark = _s.SparkSession.getActiveSession()
        if spark is None:
            pytest.skip("needs the shared spark session")
        df = spark.createDataFrame(
            [(1, "x", "+I", 1)],
            "id BIGINT, name STRING, __op STRING, __seq BIGINT")
        schema = Schema.from_struct_type(
            df.drop("__op", "__seq").schema, primary_keys=["id"])
        with warnings.catch_warnings(record=True) as got:
            warnings.simplefilter("always")
            sink.write(TableId.parse("db.t"), df, schema, batch_id=0)
        msgs = [str(w.message) for w in got]
        assert any("acks" in m and "linger.ms" in m for m in msgs), msgs


def test_stream_load_label_salt_survives_checkpoint_reset(spark, tmp_path):
    """Advice r10: labels persist server-side, so a checkpoint RESET
    (batch ids restart at 0 with different data) must not collide with
    the previous run's labels. The salt is pinned to the checkpoint
    dir's lifetime: crash replays of the same checkpoint dedup; a fresh
    checkpoint dir mints a new salt and its batch 0 lands."""
    from source_flink_cdc_3_5_0_spark.common.schema import Schema
    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.sinks.streamload import (
        DorisStreamLoadSink, ToyStreamLoadFrontend)

    tid = TableId.parse("shop.users")

    def frame(rows):
        df = spark.createDataFrame(
            rows, "id BIGINT, name STRING, __op STRING, __seq BIGINT")
        return df, Schema.from_struct_type(
            df.drop("__op", "__seq").schema, primary_keys=["id"])

    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    with ToyStreamLoadFrontend({"shop.users": ["id"]}) as fe:
        df1, sch = frame([(1, "ann", "+I", 1)])
        run1 = DorisStreamLoadSink(frontend=fe.endpoint, salt_dir=ck1)
        run1.write(tid, df1, sch, batch_id=0)
        assert fe.store["shop.users"] == {(1,): {"id": 1, "name": "ann"}}
        # crash replay: NEW sink instance, SAME checkpoint dir -> same
        # salt -> label dedup no-op
        replay = DorisStreamLoadSink(frontend=fe.endpoint, salt_dir=ck1)
        replay.write(tid, df1, sch, batch_id=0)
        assert len(fe.labels) == 1
        # checkpoint reset: fresh dir, batch ids restart at 0 with
        # DIFFERENT data — must land, not "Label Already Exists"-skip
        df2, _ = frame([(2, "bob", "+I", 1)])
        run2 = DorisStreamLoadSink(frontend=fe.endpoint, salt_dir=ck2)
        run2.write(tid, df2, sch, batch_id=0)
        assert len(fe.labels) == 2
        assert fe.store["shop.users"] == {
            (1,): {"id": 1, "name": "ann"},
            (2,): {"id": 2, "name": "bob"}}
