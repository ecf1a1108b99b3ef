"""MariaDB GTID support (verdict r10 item 4): events 160-163 decode,
the domain-server-seq position algebra, offset comparison/startup
filtering, and the named refusal on the MySQL-protocol GTID dump path.

Layouts are the public MariaDB ones (MariaDB KB "Replication Protocol" /
sql/log_event_server.cc); the reference's behavior model is Debezium's
MariaDbGtidSet riding the same connector surface
(flink-connector-mysql-cdc)."""

import os
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (  # noqa: E402
    MARIADB_ANNOTATE_ROWS_EVENT, MARIADB_BINLOG_CHECKPOINT_EVENT,
    MARIADB_GTID_EVENT, MARIADB_GTID_LIST_EVENT, BinlogOffset, BinlogReader,
    BinlogWriter, _keep_record, format_mariadb_gtid_set, is_mariadb_gtid,
    iter_binlog_changes, mariadb_gtid_covers, parse_mariadb_gtid_set)


# ---------------------------------------------------------------------------
# wire decode (known-answer)
# ---------------------------------------------------------------------------


def _events(w):
    r = BinlogReader(w.getvalue())
    return {e.type_byte: e for e in r.events()}


def test_mariadb_gtid_event_decodes():
    w = BinlogWriter(server_id=7)
    w.mariadb_gtid(domain_id=3, seq_no=42)
    ev = _events(w)[MARIADB_GTID_EVENT]
    assert ev.fields == {"domain_id": 3, "server_id": 7, "seq_no": 42,
                         "flags2": 0, "standalone": False,
                         "commit_id": None}


def test_mariadb_gtid_event_group_commit_and_standalone():
    w = BinlogWriter(server_id=9)
    w.mariadb_gtid(domain_id=0, seq_no=100, standalone=True,
                   commit_id=55)
    f = _events(w)[MARIADB_GTID_EVENT].fields
    assert f["standalone"] and f["commit_id"] == 55 and f["seq_no"] == 100


def test_mariadb_gtid_list_decodes():
    w = BinlogWriter()
    w.mariadb_gtid_list([(0, 1, 10), (2, 5, 7)])
    f = _events(w)[MARIADB_GTID_LIST_EVENT].fields
    assert f["gtid_list"] == [(0, 1, 10), (2, 5, 7)] and f["flags"] == 0


def test_mariadb_checkpoint_and_annotate_decode():
    w = BinlogWriter()
    w.mariadb_binlog_checkpoint("mariadb-bin.000004")
    w.mariadb_annotate_rows("INSERT INTO t VALUES (1)")
    evs = _events(w)
    assert evs[MARIADB_BINLOG_CHECKPOINT_EVENT].fields == {
        "filename": "mariadb-bin.000004"}
    assert evs[MARIADB_ANNOTATE_ROWS_EVENT].fields == {
        "query": "INSERT INTO t VALUES (1)"}


# ---------------------------------------------------------------------------
# position algebra
# ---------------------------------------------------------------------------


def test_is_mariadb_gtid_discriminates():
    assert is_mariadb_gtid("0-1-100")
    assert is_mariadb_gtid("0-1-100,2-3-7")
    assert not is_mariadb_gtid("a9d88f83-c5b3-11ec-0000-000000000001:1-5")
    assert not is_mariadb_gtid("")
    assert not is_mariadb_gtid("0-1")  # two parts, not a gtid


maria_sets = st.dictionaries(
    st.integers(0, 2**32 - 1),
    st.tuples(st.integers(0, 2**32 - 1), st.integers(0, 2**63 - 1)),
    max_size=5)


@given(maria_sets)
@settings(max_examples=100, deadline=None)
def test_parse_format_roundtrip(state):
    s = format_mariadb_gtid_set(state)
    assert parse_mariadb_gtid_set(s) == state
    assert not s or is_mariadb_gtid(s)


@given(maria_sets, maria_sets)
@settings(max_examples=100, deadline=None)
def test_covers_semantics(a, b):
    sa, sb = format_mariadb_gtid_set(a), format_mariadb_gtid_set(b)
    expect = all(d in a and a[d][1] >= q for d, (_sv, q) in b.items())
    assert mariadb_gtid_covers(sa, sb) is expect
    # reflexive
    assert mariadb_gtid_covers(sa, sa)


def test_duplicate_domain_keeps_max():
    assert parse_mariadb_gtid_set("0-1-5,0-2-9") == {0: (2, 9)}


def test_malformed_gtid_raises_named():
    with pytest.raises(ValueError, match="domain-server-seq"):
        parse_mariadb_gtid_set("0-x-1")


# ---------------------------------------------------------------------------
# stream offset tracking over a DDL-only stream (row-bearing coverage
# rides the v1-rows e2e below)
# ---------------------------------------------------------------------------


def test_iter_changes_tracks_mariadb_position():
    w = BinlogWriter(server_id=4)
    w.mariadb_gtid_list([(0, 4, 10)])
    w.mariadb_gtid(domain_id=0, seq_no=11, standalone=True)
    w.query("CREATE TABLE d.t (id INT PRIMARY KEY)", database="d")
    w.mariadb_gtid(domain_id=1, seq_no=3, standalone=True)
    w.query("ALTER TABLE d.t ADD COLUMN v INT", database="d")
    recs = list(iter_binlog_changes(w.getvalue(), "mariadb-bin.000001"))
    assert [r["kind"] for r in recs] == ["ddl", "ddl"]
    # first DDL: gtids = the seeded list (committed BEFORE the record),
    # txn_gtid = the in-flight gtid
    assert recs[0]["gtids"] == "0-4-10"
    assert recs[0]["txn_gtid"] == "0-4-11"
    # second DDL sees the first committed
    assert recs[1]["gtids"] == "0-4-11"
    assert recs[1]["txn_gtid"] == "1-4-3"


def test_keep_record_filters_covered_mariadb_txns():
    start = BinlogOffset.of_gtid_set("0-4-11")
    covered = {"txn_gtid": "0-4-11", "file": "f", "pos": 1, "ts_sec": 0}
    fresh = {"txn_gtid": "0-4-12", "file": "f", "pos": 2, "ts_sec": 0}
    other_domain = {"txn_gtid": "1-4-1", "file": "f", "pos": 3, "ts_sec": 0}
    assert not _keep_record(covered, start, None)
    assert _keep_record(fresh, start, None)
    assert _keep_record(other_domain, start, None)


def test_keep_record_cross_family_raises_named():
    start = BinlogOffset.of_gtid_set(
        "a9d88f83-c5b3-11ec-0000-000000000001:1-5")
    maria = {"txn_gtid": "0-4-11", "file": "f", "pos": 1, "ts_sec": 0}
    with pytest.raises(ValueError, match="MariaDB"):
        _keep_record(maria, start, None)
    start_m = BinlogOffset.of_gtid_set("0-4-11")
    mysql = {"txn_gtid": "a9d88f83-c5b3-11ec-0000-000000000001:6",
             "file": "f", "pos": 1, "ts_sec": 0}
    with pytest.raises(ValueError, match="MariaDB"):
        _keep_record(mysql, start_m, None)


# ---------------------------------------------------------------------------
# BinlogOffset comparison
# ---------------------------------------------------------------------------


def test_offset_compare_mariadb_sets():
    lo = BinlogOffset.of_gtid_set("0-1-10")
    hi = BinlogOffset.of_gtid_set("0-1-12,1-1-1")
    assert lo.compare(hi) == -1 and hi.compare(lo) == 1
    assert BinlogOffset.of_gtid_set("0-2-10").compare(
        BinlogOffset.of_gtid_set("0-1-10")) == 0  # server id never orders


def test_offset_compare_mixed_families_raises():
    maria = BinlogOffset.of_gtid_set("0-1-10")
    mysql = BinlogOffset.of_gtid_set(
        "a9d88f83-c5b3-11ec-0000-000000000001:1-5")
    with pytest.raises(ValueError, match="do not interoperate"):
        maria.compare(mysql)


# ---------------------------------------------------------------------------
# full YAML pipeline over an AUTHENTIC MariaDB stream shape: v1 rows
# events (what MariaDB actually writes) + GTID events, tracking the
# domain-server-seq position end-to-end (the offset contract is
# "committed BEFORE the record", same as the MySQL executed-set path)
# ---------------------------------------------------------------------------


def test_pipeline_tracks_mariadb_position_e2e(spark, tmp_path):
    import json

    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_LONG, MYSQL_TYPE_VARCHAR, UPDATE_ROWS_EVENT_V1,
        WRITE_ROWS_EVENT_V1, BinlogColumn, BinlogTableMap)

    src = tmp_path / "binlog"
    src.mkdir()
    tmap = BinlogTableMap(1, "db", "t", (
        BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
        BinlogColumn("v", MYSQL_TYPE_VARCHAR, (255,))), (0,))
    w = BinlogWriter(server_id=4)
    w.mariadb_gtid_list([(0, 4, 10)])
    w.mariadb_binlog_checkpoint("mariadb-bin.000001")
    w.table_map(tmap)
    w.mariadb_gtid(0, 11)
    w.query("BEGIN")
    w.mariadb_annotate_rows("INSERT INTO db.t VALUES (1,'a'),(2,'b')")
    w.rows(tmap, WRITE_ROWS_EVENT_V1,
           [dict(id=1, v="a"), dict(id=2, v="b")])
    w.xid(1)
    w.mariadb_gtid(0, 12)
    w.query("BEGIN")
    w.rows(tmap, UPDATE_ROWS_EVENT_V1,
           [(dict(id=2, v="b"), dict(id=2, v="B"))])
    w.xid(2)
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{json.dumps({"db.t": "id INT, v STRING"})}'
  primary-keys: '{{"db.t": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    composer = PipelineComposer(spark)
    sink = MemorySink()
    pipe, raw, tables = composer.compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    q = pipe.start(raw, tables)
    q.awaitTermination(180)
    assert sink.snapshot(TableId.parse("db.t")) == ["1, a", "2, B"]
    off = pipe.binlog_offset()
    assert off is not None and off.gtid_set == "0-4-11"


# ---------------------------------------------------------------------------
# GTID startup over the REAL wire (round 11 upgrades the named refusal):
# the MariaDB replica register dance — SET @slave_connect_state +
# @mariadb_slave_capability, then a plain COM_BINLOG_DUMP with an empty
# filename; the server picks the start file from GTID_LIST headers
# ---------------------------------------------------------------------------


def _maria_two_file_dir(tmp_path):
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_LONG, WRITE_ROWS_EVENT_V1, BinlogColumn,
        BinlogTableMap)

    src = tmp_path / "binlog"
    src.mkdir()
    tmap = BinlogTableMap(1, "d", "t",
                          (BinlogColumn("id", MYSQL_TYPE_LONG, (),
                                        False, False),), (0,))
    w1 = BinlogWriter(server_id=4)
    w1.mariadb_gtid_list([])  # fresh server: empty state
    w1.table_map(tmap)
    for seq, rid in ((1, 1), (2, 2)):
        w1.mariadb_gtid(0, seq)
        w1.query("BEGIN")
        w1.rows(tmap, WRITE_ROWS_EVENT_V1, [dict(id=rid)])
        w1.xid(seq)
    (src / "mysql-bin.000001").write_bytes(w1.getvalue())
    w2 = BinlogWriter(server_id=4)
    w2.mariadb_gtid_list([(0, 4, 2)])  # state after file 1
    w2.table_map(tmap)
    w2.mariadb_gtid(0, 3)
    w2.query("BEGIN")
    w2.rows(tmap, WRITE_ROWS_EVENT_V1, [dict(id=3)])
    w2.xid(3)
    (src / "mysql-bin.000002").write_bytes(w2.getvalue())
    return src


def test_gtid_startup_over_wire_picks_start_file(tmp_path):
    from source_flink_cdc_3_5_0_spark.sources.mysql_protocol import (
        MysqldToyServer, dump_binlog_stream)

    src = _maria_two_file_dir(tmp_path)
    spool = tmp_path / "spool"
    with MysqldToyServer(str(src)) as srv:
        files = dump_binlog_stream(srv.host, srv.port, str(spool),
                                   user=srv.user, password=srv.password,
                                   gtid_set="0-4-2")
    # the register picked file 2 — file 1's already-applied txns never
    # crossed the wire
    assert files == ["mysql-bin.000002"]
    recs = [r for r in iter_binlog_changes(
        (spool / "mysql-bin.000002").read_bytes(), "mysql-bin.000002")
        if r["kind"] == "change"]
    assert [r["after"]["id"] for r in recs] == [3]
    assert recs[0]["txn_gtid"] == "0-4-3"


def test_yaml_gtid_startup_over_wire_e2e(spark, tmp_path):
    """The complete user surface: YAML `protocol: mysql` +
    `scan.startup.specific-offset.gtid-set: 0-4-2` against the toy
    server — the register dance picks the start file, the decode-side
    filter drops covered transactions, only txn 0-4-3 materializes."""
    import json

    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.mysql_protocol import (
        MysqldToyServer)

    src = _maria_two_file_dir(tmp_path)
    with MysqldToyServer(str(src)) as srv:
        yaml_text = f"""
source:
  type: mysql-binlog-file
  protocol: mysql
  host: {srv.host}
  port: {srv.port}
  username: {srv.user}
  password: {srv.password}
  tables: '{json.dumps({"d.t": "id INT"})}'
  primary-keys: '{{"d.t": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
  scan.startup.mode: specific-offset
  scan.startup.specific-offset.gtid-set: 0-4-2
sink: {{type: values}}
"""
        composer = PipelineComposer(spark)
        sink = MemorySink()
        pipe, raw, tables = composer.compose_streaming(
            parse_yaml_pipeline(yaml_text), sink=sink)
        q = pipe.start(raw, tables)
        q.awaitTermination(180)
    assert sink.snapshot(TableId.parse("d.t")) == ["3"]


def test_gtid_startup_purged_history_errors(tmp_path):
    from source_flink_cdc_3_5_0_spark.sources.mysql_protocol import (
        MysqldToyServer, dump_binlog_stream)

    src = _maria_two_file_dir(tmp_path)
    # simulate purge: only file 2 remains, whose initial state (0-4-2)
    # is AHEAD of a client asking for 0-4-1
    (src / "mysql-bin.000001").unlink()
    with MysqldToyServer(str(src)) as srv, \
            pytest.raises(ValueError, match="purged"):
        dump_binlog_stream(srv.host, srv.port, str(tmp_path / "s2"),
                           user=srv.user, password=srv.password,
                           gtid_set="0-4-1")
