"""MySQL binlog wire codec + changelog decode tests.

Round-trips every ROW-image column type through the in-repo encoder/decoder
(the PNG/JPEG/TiDB approach — no mysqld needed), pins public known answers
(the classic NEWDECIMAL example from strings/decimal.c documentation), and
checks `BinlogOffset.java#compareTo` parity branch by branch.
"""

import datetime
import decimal
import struct

import pytest
from hypothesis import given, settings, strategies as st

from source_flink_cdc_3_5_0_spark.common.mysql_json import (
    decode_json, encode_json)
from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
    BINLOG_MAGIC, BinlogColumn, BinlogOffset, BinlogReader, BinlogTableMap,
    BinlogWriter, DELETE_ROWS_EVENT, FORMAT_DESCRIPTION_EVENT, GTID_EVENT,
    MYSQL_TYPE_BIT, MYSQL_TYPE_BLOB, MYSQL_TYPE_DATE, MYSQL_TYPE_DATETIME2,
    MYSQL_TYPE_DOUBLE, MYSQL_TYPE_ENUM, MYSQL_TYPE_FLOAT, MYSQL_TYPE_JSON,
    MYSQL_TYPE_LONG, MYSQL_TYPE_LONGLONG, MYSQL_TYPE_NEWDECIMAL,
    MYSQL_TYPE_SET, MYSQL_TYPE_SHORT, MYSQL_TYPE_STRING, MYSQL_TYPE_TIME2,
    MYSQL_TYPE_TIMESTAMP2, MYSQL_TYPE_TINY, MYSQL_TYPE_VARCHAR,
    MYSQL_TYPE_YEAR, TABLE_MAP_EVENT, UPDATE_ROWS_EVENT, WRITE_ROWS_EVENT,
    binlog_changes, decimal_bin_size,
    decode_binlog, decode_newdecimal, decode_time2, encode_newdecimal,
    encode_time2, read_binlog_files, record_seq, _read_lenc, _write_lenc)

UUID = "3e11fa47-71ca-11e1-9e33-c80aa9429562"


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


@given(st.integers(min_value=0, max_value=(1 << 64) - 1))
def test_lenc_roundtrip(v):
    buf = _write_lenc(v) + b"tail"
    got, pos = _read_lenc(buf, 0)
    assert got == v and buf[pos:] == b"tail"


def test_newdecimal_known_answer():
    # strings/decimal.c documentation example: DECIMAL(14,4)
    assert encode_newdecimal("1234567890.1234", 14, 4).hex() == "810dfb38d204d2"
    assert decode_newdecimal(bytes.fromhex("810dfb38d204d2"), 14, 4) \
        == "1234567890.1234"
    # negated: every byte inverted
    assert encode_newdecimal("-1234567890.1234", 14, 4).hex() == "7ef204c72dfb2d"


@given(st.integers(min_value=1, max_value=30), st.data())
@settings(max_examples=150)
def test_newdecimal_roundtrip(precision, data):
    scale = data.draw(st.integers(min_value=0, max_value=precision))
    digits = data.draw(st.integers(
        min_value=-(10 ** precision - 1), max_value=10 ** precision - 1))
    with decimal.localcontext() as ctx:
        ctx.prec = 65  # avoid context rounding at high precisions
        value = decimal.Decimal(digits).scaleb(-scale)
        text = format(value, "f")
        enc = encode_newdecimal(text, precision, scale)
        assert len(enc) == decimal_bin_size(precision, scale)
        assert decimal.Decimal(decode_newdecimal(enc, precision, scale)) == value


def test_newdecimal_truncated_rejected():
    with pytest.raises(ValueError, match="truncated"):
        decode_newdecimal(b"\x81", 14, 4)


def test_time2_negative_and_frac():
    enc = encode_time2(5, 4, 3, negative=True)
    (neg, h, m, s, us), _ = decode_time2(enc, 0, 0)
    assert (neg, h, m, s, us) == (True, 5, 4, 3, 0)
    enc = encode_time2(838, 59, 59, us=123456, fsp=6)
    (neg, h, m, s, us), _ = decode_time2(enc, 0, 6)
    assert (neg, h, m, s, us) == (False, 838, 59, 59, 123456)
    # negative fractional times: ONE joint offset-binary number, so the
    # byte order stays memcomparable and the round-trip is exact
    for fsp, us in ((2, 500000), (4, 123400), (6, 1)):
        enc = encode_time2(0, 0, 0, us=us, negative=True, fsp=fsp)
        (neg, h, m, s, got_us), _ = decode_time2(enc, 0, fsp)
        assert (neg, h, m, s, got_us) == (True, 0, 0, 0, us)
    # memcomparability straddling zero: -00:00:00.5 < +00:00:00.5
    lo = encode_time2(0, 0, 0, us=500000, negative=True, fsp=2)
    hi = encode_time2(0, 0, 0, us=500000, negative=False, fsp=2)
    assert lo < hi


# ---------------------------------------------------------------------------
# binary JSON
# ---------------------------------------------------------------------------

_JSON_SCALARS = st.one_of(
    st.none(), st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 64) - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40))


@given(st.recursive(
    _JSON_SCALARS,
    lambda kids: st.one_of(
        st.lists(kids, max_size=6),
        st.dictionaries(st.text(min_size=1, max_size=12), kids, max_size=6)),
    max_leaves=25))
@settings(max_examples=200)
def test_binary_json_roundtrip(doc):
    assert decode_json(encode_json(doc)) == doc


def test_binary_json_large_format():
    # >65535 bytes forces the large container format both ways
    doc = {"k%04d" % i: "v" * 40 for i in range(2000)}
    blob = encode_json(doc)
    assert blob[0] == 0x01  # large object
    assert decode_json(blob) == doc
    arr = list(range(40000))
    blob = encode_json(arr)
    assert blob[0] == 0x03  # large array
    assert decode_json(blob) == arr


def test_binary_json_gated_type():
    with pytest.raises(NotImplementedError):
        decode_json(bytes([0x0F]) + b"xx")  # opaque


def test_binary_json_corrupt_size():
    blob = bytearray(encode_json({"a": 1}))
    blob[2] = 0xFF  # container size overruns the document
    with pytest.raises(ValueError, match="overruns"):
        decode_json(bytes(blob))


# ---------------------------------------------------------------------------
# full-file round trip
# ---------------------------------------------------------------------------


def _wide_table():
    cols = (
        BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
        BinlogColumn("uid", MYSQL_TYPE_LONG, (), True),
        BinlogColumn("tiny", MYSQL_TYPE_TINY, ()),
        BinlogColumn("small", MYSQL_TYPE_SHORT, (), True),
        BinlogColumn("big", MYSQL_TYPE_LONGLONG, (), True),
        BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)),
        BinlogColumn("bio", MYSQL_TYPE_VARCHAR, (1024,)),
        BinlogColumn("wt", MYSQL_TYPE_FLOAT, (4,)),
        BinlogColumn("score", MYSQL_TYPE_DOUBLE, (8,)),
        BinlogColumn("price", MYSQL_TYPE_NEWDECIMAL, (12, 2)),
        BinlogColumn("born", MYSQL_TYPE_DATE, ()),
        BinlogColumn("at6", MYSQL_TYPE_DATETIME2, (6,)),
        BinlogColumn("ts3", MYSQL_TYPE_TIMESTAMP2, (3,)),
        BinlogColumn("dur", MYSQL_TYPE_TIME2, (0,)),
        BinlogColumn("yr", MYSQL_TYPE_YEAR, ()),
        BinlogColumn("flags", MYSQL_TYPE_BIT, (12,)),
        BinlogColumn("payload", MYSQL_TYPE_BLOB, (2,)),
        BinlogColumn("doc", MYSQL_TYPE_JSON, (4,)),
        BinlogColumn("kind", MYSQL_TYPE_STRING, (MYSQL_TYPE_ENUM, 1),
                     str_values=("alpha", "beta", "gamma")),
        BinlogColumn("tags", MYSQL_TYPE_STRING, (MYSQL_TYPE_SET, 8),
                     str_values=("x", "y", "z")),
        BinlogColumn("code", MYSQL_TYPE_STRING, (MYSQL_TYPE_STRING, 8)),
    )
    return BinlogTableMap(108, "shop", "users", cols, (0,))


_ROW1 = dict(id=1, uid=4_000_000_000, tiny=-5, small=65000,
             big=(1 << 63) + 77, name="amy", bio="x" * 500, wt=1.5,
             score=2.25, price="1234.56", born=datetime.date(2020, 2, 29),
             at6=datetime.datetime(2023, 7, 4, 12, 30, 45, 123456),
             ts3=(1_700_000_000, 123000), dur=(False, 101, 2, 3, 0),
             yr=2024, flags=0b101010101010, payload=b"\x00\x01binary",
             doc={"a": [1, 2, None], "b": {"c": True}}, kind="beta",
             tags="x,z", code="AB")
_ROW2 = dict(id=2, uid=None, tiny=None, small=None, big=0, name="bob",
             bio=None, wt=None, score=-1.0, price="-0.01", born=None,
             at6=None, ts3=None, dur=(True, 5, 0, 1, 0), yr=0, flags=0,
             payload=b"", doc=[], kind="alpha", tags="", code="Z")


def _script(checksum=True):
    tmap = _wide_table()
    w = BinlogWriter(server_id=7, checksum=checksum)
    w.gtid(UUID, 1)
    w.query("BEGIN", "shop")
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [_ROW1, _ROW2])
    w.rows(tmap, UPDATE_ROWS_EVENT,
           [(_ROW1, dict(_ROW1, name="amy2", price="1300.00"))])
    w.rows(tmap, DELETE_ROWS_EVENT, [_ROW2])
    w.xid(42)
    w.tick()
    w.gtid(UUID, 2)
    w.query("ALTER TABLE users ADD COLUMN email VARCHAR(64)", "shop")
    w.rotate("mysql-bin.000002")
    return w.getvalue()


@pytest.mark.parametrize("checksum", [True, False])
def test_full_file_roundtrip(checksum):
    changes = binlog_changes(_script(checksum), "mysql-bin.000001")
    ops = [c.get("op") for c in changes]
    assert ops == ["+I", "+I", "-U", "+U", "-D", None]
    after = changes[0]["after"]
    for k, v in _ROW1.items():
        got = after[k]
        if isinstance(v, float):
            assert abs(got - v) < 1e-6, k
        else:
            assert got == v, k
    # nulls and edge values on row 2
    assert changes[1]["after"]["uid"] is None
    assert changes[1]["after"]["dur"] == (True, 5, 0, 1, 0)
    assert changes[1]["after"]["yr"] == 0
    # the update pair shares one wire row: before image intact
    assert changes[2]["before"]["name"] == "amy"
    assert changes[3]["after"]["price"] == "1300.00"
    # delete carries the before image
    assert changes[4]["op"] == "-D" and changes[4]["before"]["id"] == 2
    # DDL after the first committed transaction sees gtid :1-1
    ddl = changes[5]
    assert ddl["kind"] == "ddl" and "ALTER" in ddl["sql"]
    assert ddl["gtids"] == f"{UUID}:1-1"
    # offsets: pos is the event END position, strictly increasing
    positions = [c["pos"] for c in changes]
    assert positions == sorted(positions)
    assert all(c["server_id"] == 7 for c in changes)


def test_table_map_metadata_decode():
    """Optional TLVs: names, signedness, enum/set literals, simple PK."""
    data = _script()
    reader = BinlogReader(data)
    tmaps = [ev.fields["table"] for ev in reader.events()
             if ev.type_byte == TABLE_MAP_EVENT]
    tm = tmaps[0]
    assert tm.qualified == "shop.users"
    assert tm.pk_indexes == (0,)
    by_name = {c.name: c for c in tm.columns}
    assert by_name["uid"].unsigned and by_name["big"].unsigned
    assert not by_name["id"].unsigned and not by_name["tiny"].unsigned
    assert by_name["kind"].str_values == ("alpha", "beta", "gamma")
    assert by_name["tags"].str_values == ("x", "y", "z")
    assert by_name["price"].meta == (12, 2)
    assert not by_name["id"].nullable and by_name["name"].nullable


def test_crc32_validation():
    data = bytearray(_script(checksum=True))
    data[-30] ^= 0xFF  # flip a byte inside the last event's body
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        binlog_changes(bytes(data), "f")


def test_truncation_rejected():
    data = _script()
    with pytest.raises(ValueError, match="truncated"):
        binlog_changes(data[:len(data) - 3], "f")
    with pytest.raises(ValueError, match="magic"):
        binlog_changes(b"nope" + data[4:], "f")


def test_rows_event_without_table_map():
    tmap = _wide_table()
    w = BinlogWriter()
    w.rows(tmap, WRITE_ROWS_EVENT, [_ROW2])
    with pytest.raises(ValueError, match="unmapped table id"):
        binlog_changes(w.getvalue(), "f")


@given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 1000),
                          st.booleans()), min_size=1, max_size=12))
@settings(max_examples=40, deadline=None)
def test_rows_fuzz_roundtrip(script):
    """Randomized churn encodes to wire bytes and decodes value-exact."""
    cols = (BinlogColumn("k", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("v", MYSQL_TYPE_VARCHAR, (255,)),
            BinlogColumn("n", MYSQL_TYPE_LONG, ()))
    tmap = BinlogTableMap(5, "d", "t", cols, (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    want = []
    for kind, n, nullit in script:
        row = {"k": n, "v": "s%d" % n, "n": None if nullit else -n}
        if kind == 0:
            w.rows(tmap, WRITE_ROWS_EVENT, [row])
            want.append(("+I", row))
        elif kind == 1:
            new = dict(row, v="u%d" % n)
            w.rows(tmap, UPDATE_ROWS_EVENT, [(row, new)])
            want.append(("-U", row))
            want.append(("+U", new))
        else:
            w.rows(tmap, DELETE_ROWS_EVENT, [row])
            want.append(("-D", row))
    got = binlog_changes(w.getvalue(), "f")
    assert [(c["op"], c["after"] or c["before"]) for c in got] == want


# ---------------------------------------------------------------------------
# BinlogOffset compareTo parity (BinlogOffset.java)
# ---------------------------------------------------------------------------


def test_offset_non_stopping_is_max():
    ns, fp = BinlogOffset.of(kind="NON_STOPPING"), \
        BinlogOffset.of(file="mysql-bin.000009", pos=10 ** 9)
    assert ns.compare(ns) == 0
    assert ns.compare(fp) == 1
    assert fp.compare(ns) == -1


def test_offset_gtid_comparison():
    a = BinlogOffset.of_gtid_set(f"{UUID}:1-5")
    b = BinlogOffset.of_gtid_set(f"{UUID}:1-9")
    assert a.compare(b) == -1 and b.compare(a) == 1
    # equal sets fall through to events-to-skip
    a2 = BinlogOffset.of(file="", pos=0, gtids=f"{UUID}:1-5", event=2)
    a3 = BinlogOffset.of(file="", pos=0, gtids=f"{UUID}:1-5", event=7)
    assert a2.compare(a3) == -1
    # this has gtids, target does not -> this is AFTER (reference semantics)
    fp = BinlogOffset.of(file="mysql-bin.000001", pos=4)
    assert a.compare(fp) == 1 and fp.compare(a) == -1


def test_offset_file_position_comparison():
    a = BinlogOffset.of(file="mysql-bin.000001", pos=100)
    b = BinlogOffset.of(file="MYSQL-BIN.000001", pos=200)  # case-insensitive
    c = BinlogOffset.of(file="mysql-bin.000002", pos=4)
    assert a.compare(b) == -1 and b.compare(c) == -1 and a.compare(a) == 0
    # different server ids with both timestamps -> timestamp decides
    x = BinlogOffset.of(file="a.1", pos=500, server_id=1, ts_sec=100)
    y = BinlogOffset.of(file="a.1", pos=10, server_id=2, ts_sec=200)
    assert x.compare(y) == -1
    # row/event tie-breaks
    e1 = BinlogOffset.of(file="a.1", pos=10, event=1, row=2)
    e2 = BinlogOffset.of(file="a.1", pos=10, event=1, row=5)
    assert e1.compare(e2) == -1 and e1.compare(e1) == 0


def test_offset_json_roundtrip():
    o = BinlogOffset.of(file="mysql-bin.000003", pos=77, gtids=f"{UUID}:1-3",
                        ts_sec=123, server_id=9)
    assert BinlogOffset.from_json(o.to_json()) == o
    with pytest.raises(ValueError, match="unknown binlog offset keys"):
        BinlogOffset.of(bogus=1)


def test_record_seq_monotone():
    seqs = [record_seq("mysql-bin.000001", 100, 0, "+I"),
            record_seq("mysql-bin.000001", 100, 1, "+I"),
            record_seq("mysql-bin.000001", 200, 0, "-U"),
            record_seq("mysql-bin.000001", 200, 0, "+U"),
            record_seq("mysql-bin.000002", 4, 0, "+I"),
            # the 6-to-7-digit ordinal rollover stays monotone
            record_seq("mysql-bin.999999", 4, 0, "+I"),
            record_seq("mysql-bin.1000000", 4, 0, "+I")]
    assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs)
    # the whole budget fits a signed int64
    assert record_seq("mysql-bin.1048575", (1 << 32) - 1,
                      1 << 20, "+I") < 1 << 63
    # positions past 1 GiB are LEGAL (one huge txn is never split
    # across files, so log_pos legitimately exceeds max_binlog_size —
    # the old 30-bit cap rejected well-formed files); full u32 accepted
    big = record_seq("mysql-bin.000001", (1 << 32) - 1, 0, "+I")
    assert big < record_seq("mysql-bin.000002", 4, 0, "+I")
    with pytest.raises(ValueError, match="20-bit"):
        record_seq("mysql-bin.1048576", 4, 0, "+I")
    with pytest.raises(ValueError, match="u32"):
        record_seq("mysql-bin.000001", 1 << 32, 0, "+I")


def test_offset_filename_ordinal_rollover():
    """mysql-bin.1000000 follows mysql-bin.999999 (numeric-suffix-aware
    comparison — pure lexical order inverts here and would freeze the
    persisted offset's monotone clamp)."""
    a = BinlogOffset.of(file="mysql-bin.999999", pos=500)
    b = BinlogOffset.of(file="mysql-bin.1000000", pos=4)
    assert a.compare(b) == -1 and b.compare(a) == 1


def test_mysql_json_int_range_error():
    with pytest.raises(ValueError, match="out of MySQL JSON range"):
        encode_json(-(1 << 63) - 1)
    with pytest.raises(ValueError, match="out of MySQL JSON range"):
        encode_json(1 << 64)


# ---------------------------------------------------------------------------
# Spark data plane
# ---------------------------------------------------------------------------


def _payload_schema():
    from pyspark.sql import types as T
    return T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("uid", T.LongType()),
        T.StructField("tiny", T.IntegerType()),
        T.StructField("small", T.IntegerType()),
        T.StructField("big", T.DecimalType(20, 0)),
        T.StructField("name", T.StringType()),
        T.StructField("bio", T.StringType()),
        T.StructField("wt", T.FloatType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("price", T.DecimalType(12, 2)),
        T.StructField("born", T.DateType()),
        T.StructField("at6", T.TimestampNTZType()),
        T.StructField("ts3", T.TimestampType()),
        T.StructField("dur", T.StringType()),
        T.StructField("yr", T.IntegerType()),
        T.StructField("flags", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("doc", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("tags", T.StringType()),
        T.StructField("code", T.StringType()),
    ])


def test_decode_binlog_spark(spark, tmp_path):
    (tmp_path / "mysql-bin.000001").write_bytes(_script())
    df = decode_binlog(read_binlog_files(spark, str(tmp_path)),
                       "shop", "users", _payload_schema())
    rows = df.orderBy("__seq").collect()
    assert [r["__op"] for r in rows] == ["+I", "+I", "-U", "+U", "-D"]
    r1 = rows[0]
    assert r1["price"] == decimal.Decimal("1234.56")
    assert r1["big"] == decimal.Decimal((1 << 63) + 77)
    assert r1["at6"] == datetime.datetime(2023, 7, 4, 12, 30, 45, 123456)
    assert r1["ts3"] == datetime.datetime(1970, 1, 1) + datetime.timedelta(
        seconds=1_700_000_000, microseconds=123000)
    assert r1["dur"] == "101:02:03"
    assert r1["doc"] == '{"a":[1,2,null],"b":{"c":true}}'
    assert r1["kind"] == "beta" and r1["tags"] == "x,z"
    assert r1["payload"] == b"\x00\x01binary"
    # nulls survive
    assert rows[1]["uid"] is None and rows[1]["dur"] == "-05:00:01"
    # before image on the update pair
    assert rows[3]["__before"]["name"] == "amy"
    assert rows[3]["name"] == "amy2"
    # meta carries BinlogOffset coordinates
    m = dict(rows[0]["__meta"])
    assert m["file"] == "mysql-bin.000001" and int(m["pos"]) > 0
    assert m["server_id"] == "7"


def test_decode_binlog_start_offset_stitch(spark, tmp_path):
    """The snapshot/stream high-watermark skip: records at or before the
    offset are dropped (BinlogOffsetUtils / binlog-split stitch)."""
    (tmp_path / "mysql-bin.000001").write_bytes(_script())
    all_rows = decode_binlog(read_binlog_files(spark, str(tmp_path)),
                             "shop", "users", _payload_schema()) \
        .orderBy("__seq").collect()
    # cut right after the first event: its end position, fully consumed
    cut = BinlogOffset.of(file="mysql-bin.000001",
                          pos=int(dict(all_rows[1]["__meta"])["pos"]))
    rest = decode_binlog(read_binlog_files(spark, str(tmp_path)),
                         "shop", "users", _payload_schema(),
                         start_offset=cut).orderBy("__seq").collect()
    assert [r["__op"] for r in rest] == ["-U", "+U", "-D"]


def test_yaml_mysql_binlog_stream_e2e(spark, tmp_path):
    """YAML surface: `type: mysql-binlog-file` streams REAL binlog wire
    bytes through the bridge into the debezium-json path — transforms,
    updates, deletes and mid-stream DDL (ADD COLUMN backfill) all land in
    the sink, across a file rotation."""
    import json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)),
            BinlogColumn("price", MYSQL_TYPE_NEWDECIMAL, (10, 2)))
    tmap = BinlogTableMap(20, "shop", "items", cols, (0,))
    src = tmp_path / "binlog"
    src.mkdir()

    w = BinlogWriter(server_id=3)
    w.gtid(UUID, 1)
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [
        dict(id=1, name="bolt", price="1.10"),
        dict(id=2, name="nut", price="0.20"),
        dict(id=3, name="gear", price="9.99")])
    w.xid(1)
    w.rotate("mysql-bin.000002")
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    w2 = BinlogWriter(server_id=3, previous_gtids=f"{UUID}:1")
    w2.gtid(UUID, 2)
    w2.table_map(tmap)
    w2.rows(tmap, UPDATE_ROWS_EVENT, [
        (dict(id=2, name="nut", price="0.20"),
         dict(id=2, name="nut-xl", price="0.35"))])
    w2.rows(tmap, DELETE_ROWS_EVENT, [dict(id=3, name="gear", price="9.99")])
    w2.xid(2)
    w2.gtid(UUID, 3)
    w2.query("ALTER TABLE items ADD COLUMN origin VARCHAR(32)", "shop")
    cols3 = cols + (BinlogColumn("origin", MYSQL_TYPE_VARCHAR, (64,)),)
    tmap3 = BinlogTableMap(21, "shop", "items", cols3, (0,))
    w2.gtid(UUID, 4)
    w2.table_map(tmap3)
    w2.rows(tmap3, WRITE_ROWS_EVENT,
            [dict(id=4, name="cam", price="5.00", origin="DE")])
    w2.xid(3)
    (src / "mysql-bin.000002").write_bytes(w2.getvalue())

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{json.dumps({"shop.items": "id INT, name STRING, price DECIMAL(10,2)"})}'
  primary-keys: '{{"shop.items": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
transform:
  - source-table: shop.\\.*
    projection: "\\\\*, UPPER(name) AS name_u"
"""
    pdef = parse_yaml_pipeline(yaml_text)
    composer = PipelineComposer(spark)
    assert composer.is_streaming(pdef)
    sink = MemorySink()
    pipe, raw, tables = composer.compose_streaming(pdef, sink=sink)
    q = pipe.start(raw, tables)
    q.awaitTermination(180)
    tid = TableId.parse("shop.items")
    snap = sink.snapshot(tid)
    # id=1 untouched, id=2 updated, id=3 deleted, id=4 inserted post-DDL
    # with the new column; pre-DDL rows null-fill it
    assert snap == [
        "1, bolt, 1.10, BOLT, null",
        "2, nut-xl, 0.35, NUT-XL, null",
        "4, cam, 5.00, CAM, DE",
    ]
    # the operator-visible BinlogOffset advanced to the last committed
    # position in the second file, carrying the accumulated GTID set
    off = pipe.binlog_offset()
    assert off is not None and off.filename == "mysql-bin.000002"
    assert off.position > 4 and off.get("server_id") == "3"
    assert off.gtid_set == f"{UUID}:1-3"


def test_previous_gtids_continuity():
    """PREVIOUS_GTIDS seeds the executed set after rotation; XID commits
    and auto-committed DDL both advance it, with interval merging."""
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),)
    tmap = BinlogTableMap(7, "d", "t", cols, (0,))
    other = "aaaaaaaa-bbbb-cccc-dddd-eeeeeeeeeeee"
    w = BinlogWriter(previous_gtids=f"{UUID}:1-3:7,{other}:5")
    w.gtid(UUID, 4)
    w.query("ALTER TABLE t ADD COLUMN x INT", "d")  # auto-commit: merges 1-4
    w.gtid(UUID, 7)  # already covered: no change
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1)])
    w.xid(1)
    w.gtid(UUID, 5)
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=2)])
    w.xid(2)
    changes = binlog_changes(w.getvalue(), "mysql-bin.000002")
    ddl, ins1, ins2 = changes
    # sets render sid-sorted; UUID (3e…) sorts before other (aa…)
    assert ddl["gtids"] == f"{UUID}:1-3:7-7,{other}:5-5"
    assert ins1["gtids"] == f"{UUID}:1-4:7-7,{other}:5-5"
    # committing :7's txn (already-covered gno) leaves the set unchanged;
    # :5 (which would bridge 1-4 and 7) commits only after ins2's record
    assert ins2["gtids"] == f"{UUID}:1-4:7-7,{other}:5-5"


def _two_txn_file():
    """Txn 1 (gtid :1) inserts ids 1-2 at ts T; txn 2 (gtid :2) inserts
    id 3 at ts T+5."""
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),)
    tmap = BinlogTableMap(7, "d", "t", cols, (0,))
    w = BinlogWriter()
    w.gtid(UUID, 1)
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1), dict(id=2)])
    w.xid(1)
    w.tick(5)
    w.gtid(UUID, 2)
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=3)])
    w.xid(2)
    return w.getvalue()


def test_startup_specific_offset_and_timestamp(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        binlog_to_debezium_json, effective_start_offset)

    (tmp_path / "mysql-bin.000001").write_bytes(_two_txn_file())
    files = read_binlog_files(spark, str(tmp_path))

    def ids(**kw):
        import json
        vals = binlog_to_debezium_json(files, **kw).collect()
        return sorted(json.loads(r["value"])["after"]["id"] for r in vals)

    assert ids() == [1, 2, 3]
    # specific-offset by (file, pos): cut after the first ROWS event
    import json
    all_vals = binlog_to_debezium_json(files).orderBy("offset").collect()
    first_pos = int(json.loads(all_vals[0]["value"])["source"]["pos"])
    start, ts = effective_start_offset({
        "scan.startup.mode": "specific-offset",
        "scan.startup.specific-offset.file": "mysql-bin.000001",
        "scan.startup.specific-offset.pos": first_pos})
    assert ts is None
    assert ids(start_offset=start) == [3]
    # skip-rows = rows already processed at that position: 1 -> the second
    # row of the first event still delivers
    start, _ = effective_start_offset({
        "scan.startup.mode": "specific-offset",
        "scan.startup.specific-offset.file": "mysql-bin.000001",
        "scan.startup.specific-offset.pos": first_pos,
        "scan.startup.specific-offset.skip-rows": 1})
    assert ids(start_offset=start) == [2, 3]
    # GTID set: txn :1 covered -> only txn :2 delivers
    start, _ = effective_start_offset({
        "scan.startup.mode": "specific-offset",
        "scan.startup.specific-offset.gtid-set": f"{UUID}:1"})
    assert ids(start_offset=start) == [3]
    # timestamp: events before the millisecond are skipped
    _, ts = effective_start_offset({
        "scan.startup.mode": "timestamp",
        "scan.startup.timestamp-millis": 1_700_000_001_000})
    assert ids(start_timestamp_ms=ts) == [3]
    # skip-events is honestly gated
    with pytest.raises(NotImplementedError):
        effective_start_offset({
            "scan.startup.mode": "specific-offset",
            "scan.startup.specific-offset.file": "f",
            "scan.startup.specific-offset.pos": 4,
            "scan.startup.specific-offset.skip-events": 2})


def test_startup_latest_offset(spark, tmp_path):
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        binlog_to_debezium_json, effective_start_offset)

    (tmp_path / "mysql-bin.000001").write_bytes(_two_txn_file())
    start, _ = effective_start_offset(
        {"scan.startup.mode": "latest-offset"}, str(tmp_path))
    assert start.filename == "mysql-bin.000001" and start.position > 4
    # everything current is skipped...
    files = read_binlog_files(spark, str(tmp_path))
    assert binlog_to_debezium_json(files, start_offset=start).count() == 0
    # ...but a later rotation delivers
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),)
    tmap = BinlogTableMap(7, "d", "t", cols, (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=9)])
    (tmp_path / "mysql-bin.000002").write_bytes(w.getvalue())
    files = read_binlog_files(spark, str(tmp_path))
    assert binlog_to_debezium_json(files, start_offset=start).count() == 1


def test_rows_query_event_attached():
    """binlog_rows_query_log_events=ON: the original statement logs as a
    ROWS_QUERY event and attaches to that transaction's change records
    (Debezium's include.query analog), resetting at commit."""
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),)
    tmap = BinlogTableMap(88, "d", "t", cols, (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows_query("INSERT INTO t SELECT * FROM staging")
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1)])
    w.xid(1)
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=2)])  # no query logged
    changes = binlog_changes(w.getvalue(), "f")
    assert changes[0]["query"] == "INSERT INTO t SELECT * FROM staging"
    assert "query" not in changes[1]


def test_minimal_row_image():
    """binlog_row_image=MINIMAL: before-images ship only the PK, after-
    images only changed columns + PK — decoded via the per-image
    columns-present bitmaps (absent columns simply don't appear)."""
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)),
            BinlogColumn("qty", MYSQL_TYPE_LONG, ()))
    tmap = BinlogTableMap(77, "d", "t", cols, (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, UPDATE_ROWS_EVENT, [(dict(id=1), dict(id=1, qty=9))],
           columns_present=["id"], columns_present_after=["id", "qty"])
    w.rows(tmap, DELETE_ROWS_EVENT, [dict(id=2)], columns_present=["id"])
    changes = binlog_changes(w.getvalue(), "f")
    assert [c["op"] for c in changes] == ["-U", "+U", "-D"]
    assert changes[0]["before"] == {"id": 1}          # PK only
    assert changes[1]["after"] == {"id": 1, "qty": 9}  # changed + PK
    assert changes[2]["before"] == {"id": 2}


def test_snapshot_binlog_stitch_no_duplicates(spark, tmp_path):
    """The reference's 'initial' startup: snapshot backfill + binlog tail,
    stitched by the snapshot's high-watermark BinlogOffset so overlap
    events don't duplicate — exactly-once even for PK-less tables
    (HybridSplitAssigner.java:53-110 / MySqlBinlogSplit)."""
    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.common.schema import Column, Schema
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        binlog_changes, record_seq)
    from pyspark.sql import types as T
    import json

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, ()),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)))
    tmap = BinlogTableMap(30, "inv", "logs", cols)  # NO primary key
    src = tmp_path / "binlog"
    src.mkdir()
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, name="a"),
                                    dict(id=2, name="b")])
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=3, name="c")])
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    # the snapshot reflects ids 1-2, captured at the first event's end
    changes = binlog_changes(w.getvalue(), "mysql-bin.000001")
    capture = BinlogOffset.of(file="mysql-bin.000001",
                              pos=changes[1]["pos"])
    snap = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, name STRING")

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{json.dumps({"inv.logs": "id BIGINT, name STRING"})}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    sink = SnapshotLakeSink(str(tmp_path / "out"), num_buckets=2, keep_last=1)
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    tid = TableId.parse("inv.logs")
    pipe.register_table(tid, Schema.of(Column("id", T.LongType(), False),
                                       Column("name", T.StringType())))
    pipe.initial_load({"inv.logs": snap},
                      stream_watermarks={"inv.logs": record_seq(
                          capture.filename, capture.position,
                          (1 << 10) - 1, "+I")})
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    rows = sorted((r["id"], r["name"])
                  for r in sink.read(spark, tid).collect())
    assert rows == [(1, "a"), (2, "b"), (3, "c")]  # overlap not duplicated


def test_binlog_truncate_order_within_batch(spark, tmp_path):
    """A TRUNCATE in the binlog applies in POSITION order: rows before it
    vanish, rows after it survive — the destructive-DDL segmentation keyed
    on the bridge's "seq" coordinate (same unit as the data __seq)."""
    import json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)))
    tmap = BinlogTableMap(33, "shop", "carts", cols, (0,))
    src = tmp_path / "binlog"
    src.mkdir()
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, name="old1"),
                                    dict(id=2, name="old2")])
    w.query("TRUNCATE TABLE carts", "shop")
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=3, name="new3")])
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{json.dumps({"shop.carts": "id INT, name STRING"})}'
  primary-keys: '{{"shop.carts": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("shop.carts")) == ["3, new3"]


def test_wire_native_table_inference(spark, tmp_path):
    """Omitting `tables` in the YAML infers typed schemas and PKs straight
    from the wire (TABLE_MAP optional metadata) — no hand-written DDL."""
    import json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        binlog_infer_tables)

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("uid", MYSQL_TYPE_LONG, (), True),
            BinlogColumn("price", MYSQL_TYPE_NEWDECIMAL, (10, 2)),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)))
    tmap = BinlogTableMap(40, "shop", "skus", cols, (0,))
    src = tmp_path / "binlog"
    src.mkdir()
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT,
           [dict(id=1, uid=4_000_000_000, price="9.99", name="a")])
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    tables, pks = binlog_infer_tables([str(src / "mysql-bin.000001")])
    assert tables == {"shop.skus": "`id` int, `uid` bigint, "
                      "`price` decimal(10,2), `name` string"}
    assert pks == {"shop.skus": ["id"]}

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("shop.skus")) \
        == ["1, 4000000000, 9.99, a"]
    assert json.dumps is not None


def test_wire_to_wire_loop(spark, tmp_path):
    """Closure test across the whole engine: binlog wire bytes -> pipeline
    -> kafka sink (debezium-json spool) -> re-ingested by the
    debezium-file source -> EXACTLY the same final state as the direct
    run. Proves the wire decode, the envelope codec, and the re-ingest
    path agree end to end."""
    import json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.kafka import KafkaChangelogSink
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,)),
            BinlogColumn("price", MYSQL_TYPE_NEWDECIMAL, (10, 2)))
    tmap = BinlogTableMap(50, "shop", "loop", cols, (0,))
    src = tmp_path / "binlog"
    src.mkdir()
    w = BinlogWriter()
    w.gtid(UUID, 1)
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, name="a", price="1.10"),
                                    dict(id=2, name="b", price="2.20"),
                                    dict(id=3, name="c", price="3.30")])
    w.rows(tmap, UPDATE_ROWS_EVENT, [(dict(id=2, name="b", price="2.20"),
                                      dict(id=2, name="b2", price="2.25"))])
    w.rows(tmap, DELETE_ROWS_EVENT, [dict(id=3, name="c", price="3.30")])
    w.xid(1)
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    table_ddl = json.dumps({"shop.loop": "id INT, name STRING, price DECIMAL(10,2)"})
    base_yaml = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{table_ddl}'
  primary-keys: '{{"shop.loop": ["id"]}}'
  checkpoint: {tmp_path}/%s
sink: {{type: values}}
"""
    # leg 1: direct run into the golden sink
    direct = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(base_yaml % "ckpt_direct"), sink=direct)
    pipe.start(raw, tables).awaitTermination(120)

    # leg 2: same stream into a kafka debezium-json spool...
    spool = tmp_path / "spool"
    kafka = KafkaChangelogSink(output_dir=str(spool))
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(base_yaml % "ckpt_kafka"), sink=kafka)
    pipe.start(raw, tables).awaitTermination(120)

    # ...then re-ingest the spool through the debezium-file source
    reingest_yaml = f"""
source:
  type: debezium-file
  path: {spool}/shop.loop/batch_*
  tables: '{json.dumps({"shop.loop": "id INT, name STRING, price DECIMAL(10,2)"})}'
  primary-keys: '{{"shop.loop": ["id"]}}'
  checkpoint: {tmp_path}/ckpt_reingest
sink: {{type: values}}
"""
    looped = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(reingest_yaml), sink=looped)
    pipe.start(raw, tables).awaitTermination(120)

    tid = TableId.parse("shop.loop")
    assert direct.snapshot(tid) == ["1, a, 1.10", "2, b2, 2.25"]
    assert looped.snapshot(tid) == direct.snapshot(tid)


def test_binlog_stream_restart_resumes(spark, tmp_path):
    """Stop/restart with the same checkpoint: already-consumed binlog
    files never re-deliver, new files do, and the persisted BinlogOffset
    only advances."""
    import json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("v", MYSQL_TYPE_VARCHAR, (255,)))
    tmap = BinlogTableMap(3, "d", "t", cols, (0,))
    src = tmp_path / "binlog"
    src.mkdir()
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, v="a")])
    w.rotate("mysql-bin.000002")
    (src / "mysql-bin.000001").write_bytes(w.getvalue())

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{json.dumps({"d.t": "id INT, v STRING"})}'
  primary-keys: '{{"d.t": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    # run 1
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    pipe.start(raw, tables).awaitTermination(120)
    tid = TableId.parse("d.t")
    assert sink.snapshot(tid) == ["1, a"]
    off1 = pipe.binlog_offset()
    assert off1.filename == "mysql-bin.000001"

    # new file lands; restart with the SAME checkpoint and a FRESH sink —
    # if file 1 re-delivered, id=1 would reappear in the fresh sink
    w2 = BinlogWriter()
    w2.table_map(tmap)
    w2.rows(tmap, WRITE_ROWS_EVENT, [dict(id=2, v="b")])
    (src / "mysql-bin.000002").write_bytes(w2.getvalue())
    sink2 = MemorySink()
    pipe2, raw2, tables2 = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink2)
    pipe2.start(raw2, tables2).awaitTermination(120)
    assert sink2.snapshot(tid) == ["2, b"]  # only the NEW file's data
    off2 = pipe2.binlog_offset()
    assert off2.filename == "mysql-bin.000002"
    assert off1.compare(off2) == -1  # the persisted offset advanced


def test_unknown_event_types_tolerated():
    """Event types the decoder doesn't model (HEARTBEAT=27, INTVAR=5, ...)
    frame and checksum correctly and are skipped — a server feature we
    don't decode must never break the stream."""
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),)
    tmap = BinlogTableMap(99, "d", "t", cols, (0,))
    w = BinlogWriter()
    w._emit(27, b"")                     # HEARTBEAT
    w.table_map(tmap)
    w._emit(5, struct.pack("<BQ", 2, 42))  # INTVAR (statement-era)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1)])
    w._emit(27, b"")
    changes = binlog_changes(w.getvalue(), "f")
    assert [(c["op"], c["after"]["id"]) for c in changes] == [("+I", 1)]


def test_char_over_255_bytes_packed_meta():
    """CHAR columns whose byte length exceeds 255 (e.g. CHAR(100) utf8mb4
    = 400 bytes) pack the two high length bits INVERTED into the
    real-type byte's 0x30 slot (Field_string::do_save_field_metadata);
    values switch to a 2-byte length prefix. Round-trip + the packed meta
    survives a TABLE_MAP decode."""
    tmap = BinlogTableMap(41, "d", "t", (
        BinlogColumn("id", MYSQL_TYPE_LONG, (), False),
        BinlogColumn("c", MYSQL_TYPE_STRING, (MYSQL_TYPE_STRING, 400))),
        (0,))
    long_val = "x" * 300  # > 255 bytes, within CHAR(100) utf8mb4's 400
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, c=long_val),
                                    dict(id=2, c="short")])
    changes = [c for c in binlog_changes(w.getvalue(), "f")
               if c.get("kind") == "change"]
    assert changes[0]["after"]["c"] == long_val
    assert changes[1]["after"]["c"] == "short"
    # the decoded TABLE_MAP restored the real type byte and 10-bit length
    reader = BinlogReader(w.getvalue())
    tm = [ev.fields["table"] for ev in reader.events()
          if ev.type_byte == TABLE_MAP_EVENT][0]
    by_name = {c.name: c for c in tm.columns}
    assert by_name["c"].meta == (MYSQL_TYPE_STRING, 400)

    # oversized value refused at encode (never silently truncated)
    w2 = BinlogWriter()
    w2.table_map(tmap)
    with pytest.raises(ValueError, match="longer than the declared"):
        w2.rows(tmap, WRITE_ROWS_EVENT, [dict(id=3, c="y" * 401)])


def test_json_opaque_decimal_cells():
    """DECIMAL values inside a JSON column (J_OPAQUE, json_binary.h):
    decode exactly through the shared NEWDECIMAL codec and render as
    plain JSON numbers (Debezium JsonBinary rendering) all the way
    through the binlog cell and the debezium-json bridge."""
    import decimal
    import json as js

    from source_flink_cdc_3_5_0_spark.common.mysql_json import (
        decode_json, dumps_json, encode_json)
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        binlog_changes)

    doc = {"price": decimal.Decimal("1234.56"),
           "fees": [decimal.Decimal("-0.01"), decimal.Decimal("7")],
           "note": "x"}
    assert decode_json(encode_json(doc)) == doc
    assert js.loads(dumps_json(doc)) == {"price": 1234.56,
                                         "fees": [-0.01, 7], "note": "x"}

    tmap = BinlogTableMap(51, "d", "t", (
        BinlogColumn("id", MYSQL_TYPE_LONG, (), False),
        BinlogColumn("j", MYSQL_TYPE_JSON, (4,))), (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, j=doc)])
    [c] = [c for c in binlog_changes(w.getvalue(), "f")
           if c.get("kind") == "change"]
    assert c["after"]["j"]["price"] == decimal.Decimal("1234.56")

    # and through the bridge: the JSON column serializes with number
    # tokens for the decimals
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import _json_safe
    assert js.loads(_json_safe(c["after"]["j"]))["price"] == 1234.56


def test_zero_dates_decode_to_null():
    """Round-9 review: '0000-00-00'/'0000-00-00 00:00:00' (legal under
    non-strict sql_mode, common in legacy data) must decode to NULL like
    decode_date already did — datetime.datetime(0, 0, 0, ...) raised and
    killed the whole file's decode task."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        decode_date, decode_datetime2)

    # zero DATETIME2: sign bit only (the wire form of all-zero fields)
    packed = (1 << 39).to_bytes(5, "big")
    v, _pos = decode_datetime2(packed, 0, 0)
    assert v is None
    # month-zero and day-zero variants -> NULL too
    ym = 2024 * 13 + 0  # month 0
    packed = ((1 << 39) | (ym << 22) | (1 << 17)).to_bytes(5, "big")
    assert decode_datetime2(packed, 0, 0)[0] is None
    assert decode_date(b"\x00\x00\x00", 0)[0] is None
    assert decode_date(((2024 << 9) | (0 << 5) | 1)
                       .to_bytes(3, "little"), 0)[0] is None


def test_query_commit_is_a_boundary_not_ddl():
    """Round-9 review: non-transactional (MyISAM) transactions commit
    via QUERY 'COMMIT' instead of XID — it must act as a statement
    boundary (GTID advance, statement-text latch reset), NEVER ride the
    schema-change topic as DDL; ROLLBACK likewise filtered. A DDL
    auto-commit also resets the ROWS_QUERY latch so the old statement
    can't leak onto later transactions."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_LONG, WRITE_ROWS_EVENT, BinlogColumn, BinlogTableMap,
        BinlogWriter, iter_binlog_changes)

    tmap = BinlogTableMap(1, "d", "t", (
        BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),), (0,))
    w = BinlogWriter()
    w.query("BEGIN", "d")
    w.rows_query("INSERT INTO t SELECT 1")
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1)])
    w.query("COMMIT", "d")                      # MyISAM-style commit
    w.query("rollback", "d")                    # filtered too
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=2)])  # no ROWS_QUERY of its own
    recs = list(iter_binlog_changes(w.getvalue(), "mysql-bin.000001"))
    assert [r["kind"] for r in recs] == ["change", "change"]
    assert recs[0].get("query") == "INSERT INTO t SELECT 1"
    # the latch reset at QUERY-COMMIT: no leak onto the next txn's rows
    assert "query" not in recs[1]


def test_minimal_row_metadata_positional_mapping(spark, tmp_path):
    """binlog_row_metadata=MINIMAL (the server DEFAULT) ships no column
    names in TABLE_MAP — placeholders used to map by name against the
    declared payload schema and silently null every column. Declared
    schemas now map by POSITION (Debezium's schema-snapshot contract),
    at the decode_binlog surface AND through the YAML pipeline."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_LONG, MYSQL_TYPE_VARCHAR, UPDATE_ROWS_EVENT,
        WRITE_ROWS_EVENT, BinlogColumn, BinlogTableMap, BinlogWriter,
        binlog_changes, decode_binlog)

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("v", MYSQL_TYPE_VARCHAR, (255,)))
    tmap = BinlogTableMap(5, "db", "t", cols, (0,), wire_names=False)
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1, v="a"), dict(id=2, v="b")])
    w.rows(tmap, UPDATE_ROWS_EVENT,
           [(dict(id=2, v="b"), dict(id=2, v="b2"))])
    data = w.getvalue()
    # the wire really has NO names: raw changes use placeholders
    ch = [c for c in binlog_changes(data, "f") if c["kind"] == "change"]
    assert ch[0]["after"] == {"col_0": 1, "col_1": "a"}
    assert all(c["names_inferred"] for c in ch)
    # decode_binlog maps the declared schema positionally
    import pyspark.sql.types as T

    payload = T.StructType([T.StructField("id", T.LongType()),
                            T.StructField("v", T.StringType())])
    files = spark.createDataFrame([("f", data)], "path STRING, content BINARY")
    rows = (decode_binlog(files, "db", "t", payload)
            .orderBy("__seq").collect())
    assert [(r["id"], r["v"], r["__op"]) for r in rows] == \
        [(1, "a", "+I"), (2, "b", "+I"),
         (2, "b", "-U"), (2, "b2", "+U")]
    assert rows[2]["__before"].asDict() == {"id": 2, "v": "b"}
    # and the full YAML surface with DECLARED tables
    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    src = tmp_path / "bl"
    src.mkdir()
    (src / "mysql-bin.000001").write_bytes(data)
    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{{"db.t": "id BIGINT, v STRING"}}'
  primary-keys: '{{"db.t": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    pipe.start(raw, tables).awaitTermination(120)
    assert sink.snapshot(TableId.parse("db.t")) == ["1, a", "2, b2"]


def test_minimal_metadata_without_declared_names_keeps_placeholders():
    """No declared schema (wire-native inference): placeholder names
    flow through consistently — inference, records, and the bridge all
    say col_<i>, so nothing silently nulls."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_LONG, BinlogColumn, BinlogTableMap, BinlogWriter,
        WRITE_ROWS_EVENT, binlog_infer_tables)

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),)
    tmap = BinlogTableMap(5, "db", "t", cols, (0,), wire_names=False)
    w = BinlogWriter()
    w.table_map(tmap)
    w.rows(tmap, WRITE_ROWS_EVENT, [dict(id=1)])
    import tempfile, os
    d = tempfile.mkdtemp()
    p = os.path.join(d, "mysql-bin.000001")
    open(p, "wb").write(w.getvalue())
    tables, pks = binlog_infer_tables([p])
    assert "col_0" in tables["db.t"]
    assert pks == {}  # MINIMAL metadata ships no SIMPLE_PRIMARY_KEY


def test_charset_metadata_text_columns_roundtrip():
    """Round 10: DEFAULT_CHARSET/COLUMN_CHARSET TLVs (part of even
    MINIMAL row metadata) drive text decode. latin1 (MySQL = cp1252
    superset), gbk, and TEXT-vs-BLOB discrimination: a BLOB wire type
    with a non-binary charset is a TEXT column and decodes to str;
    collation 63 (`binary`) stays bytes."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_BLOB, MYSQL_TYPE_LONG, MYSQL_TYPE_STRING,
        MYSQL_TYPE_VARCHAR, BinlogColumn, BinlogReader, BinlogTableMap,
        BinlogWriter, binlog_changes)

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("n1", MYSQL_TYPE_VARCHAR, (255,), collation=8),
            BinlogColumn("ngbk", MYSQL_TYPE_VARCHAR, (255,), collation=28),
            BinlogColumn("ch", MYSQL_TYPE_STRING,
                         (MYSQL_TYPE_STRING, 20), collation=8),
            BinlogColumn("txt", MYSQL_TYPE_BLOB, (2,), collation=8),
            BinlogColumn("blob", MYSQL_TYPE_BLOB, (2,), collation=63))
    tmap = BinlogTableMap(9, "db", "t", cols, (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    row = dict(id=1, n1="café °±", ngbk="中文名", ch="Øre",
               txt="Grüße €", blob=b"\x00\xff\x01")
    w.rows(tmap, WRITE_ROWS_EVENT, [row])
    data = w.getvalue()
    assert binlog_changes(data, "f")[0]["after"] == row
    # the wire truly carries single-byte latin1 / multi-byte gbk
    r = BinlogReader(data)
    list(r.events())
    by_name = {c.name: c for c in r.table_maps[9].columns}
    assert by_name["ngbk"].collation == 28
    assert by_name["blob"].collation == 63


def test_default_charset_tlv_known_answer():
    """The DEFAULT_CHARSET form (what real servers usually write): one
    default collation + (index, collation) overrides. The pair index is
    the ordinal AMONG CHARACTER COLUMNS — sql/rows_event.cc
    init_charset_field increments char_column_index only over included
    columns (advice r11 fix: it was read as the table-wide index)."""
    import struct as _s

    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_BLOB, MYSQL_TYPE_LONG, MYSQL_TYPE_VARCHAR,
        _META_DEFAULT_CHARSET, _write_lenc, BinlogColumn, BinlogReader,
        BinlogTableMap, BinlogWriter, TABLE_MAP_EVENT, _bitmap,
        _meta_bytes)

    # hand-assemble a TABLE_MAP whose only optional TLV is
    # DEFAULT_CHARSET: default latin1 (8); override pair (2, 28) names
    # the THIRD character column (the BLOB/TEXT `t` — `id` is not a
    # character column and consumes no ordinal)
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("a", MYSQL_TYPE_VARCHAR, (255,)),
            BinlogColumn("b", MYSQL_TYPE_VARCHAR, (255,)),
            BinlogColumn("t", MYSQL_TYPE_BLOB, (2,)))
    body = (7).to_bytes(6, "little") + _s.pack("<H", 1)
    body += bytes([2]) + b"db" + b"\x00"
    body += bytes([1]) + b"t" + b"\x00"
    body += _write_lenc(len(cols)) + bytes(c.type_byte for c in cols)
    meta = b"".join(_meta_bytes(c) for c in cols)
    body += _write_lenc(len(meta)) + meta
    body += _bitmap([c.nullable for c in cols])
    tlv = _write_lenc(8) + _write_lenc(2) + _write_lenc(28)
    body += bytes([_META_DEFAULT_CHARSET]) + _write_lenc(len(tlv)) + tlv
    w = BinlogWriter()
    w._emit(TABLE_MAP_EVENT, body)
    r = BinlogReader(w.getvalue())
    list(r.events())
    tm = r.table_maps[7]
    assert [c.collation for c in tm.columns] == [0, 8, 8, 28]
    assert tm.wire_names is False  # no COLUMN_NAME TLV in this map


def test_enum_set_columns_excluded_from_charset_tlvs():
    """Advice r10 (medium): ENUM/SET ship as MYSQL_TYPE_STRING with real
    type 247/248 and a real server EXCLUDES them from DEFAULT_CHARSET /
    COLUMN_CHARSET (they get ENUM_AND_SET_* TLVs 10/11). A table mixing
    ENUM and text columns must not misalign the text collations — here
    the TEXT after the ENUM must read gbk (28) and stay str-typed, and
    the binary BLOB must stay bytes."""
    import struct as _s

    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        MYSQL_TYPE_BLOB, MYSQL_TYPE_ENUM, MYSQL_TYPE_LONG,
        MYSQL_TYPE_SET, MYSQL_TYPE_STRING, MYSQL_TYPE_VARCHAR,
        _META_COLUMN_CHARSET, _META_DEFAULT_CHARSET,
        _META_ENUM_AND_SET_COLUMN_CHARSET, _write_lenc, BinlogColumn,
        BinlogReader, BinlogTableMap, BinlogWriter, TABLE_MAP_EVENT,
        _bitmap, _meta_bytes, binlog_changes)

    # layout: id INT, color ENUM, name VARCHAR(latin1), body TEXT(gbk),
    # raw BLOB(binary) — char columns are name/body/raw (ordinals 0/1/2)
    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("color", MYSQL_TYPE_STRING,
                         (MYSQL_TYPE_ENUM, 1),
                         str_values=("red", "green", "blue"),
                         collation=255),
            BinlogColumn("name", MYSQL_TYPE_VARCHAR, (255,), collation=8),
            BinlogColumn("body", MYSQL_TYPE_BLOB, (2,), collation=28),
            BinlogColumn("raw", MYSQL_TYPE_BLOB, (2,), collation=63))

    # 1) the in-repo writer now emits COLUMN_CHARSET over char columns
    # only + ENUM_AND_SET_COLUMN_CHARSET for the ENUM — round-trips
    tmap = BinlogTableMap(11, "db", "t", cols, (0,))
    w = BinlogWriter()
    w.table_map(tmap)
    row = dict(id=1, color="green", name="café", body="中文", raw=b"\xff\x00")
    w.rows(tmap, WRITE_ROWS_EVENT, [row])
    assert binlog_changes(w.getvalue(), "f")[0]["after"] == row
    r = BinlogReader(w.getvalue())
    list(r.events())
    by_name = {c.name: c for c in r.table_maps[11].columns}
    assert by_name["name"].collation == 8
    assert by_name["body"].collation == 28   # NOT shifted by the ENUM
    assert by_name["raw"].collation == 63
    assert by_name["color"].collation == 255  # via TLV 11

    # 2) hand-assembled MINIMAL map in the DEFAULT_CHARSET form, the
    # exact server shape: TLV 2 covers name/body/raw only (default 8,
    # char-ordinal 1 -> 28, char-ordinal 2 -> 63)
    body2 = (12).to_bytes(6, "little") + _s.pack("<H", 1)
    body2 += bytes([2]) + b"db" + b"\x00"
    body2 += bytes([2]) + b"t2" + b"\x00"
    body2 += _write_lenc(len(cols)) + bytes(c.type_byte for c in cols)
    meta = b"".join(_meta_bytes(c) for c in cols)
    body2 += _write_lenc(len(meta)) + meta
    body2 += _bitmap([c.nullable for c in cols])
    tlv = (_write_lenc(8) + _write_lenc(1) + _write_lenc(28)
           + _write_lenc(2) + _write_lenc(63))
    body2 += bytes([_META_DEFAULT_CHARSET]) + _write_lenc(len(tlv)) + tlv
    w2 = BinlogWriter()
    w2._emit(TABLE_MAP_EVENT, body2)
    r2 = BinlogReader(w2.getvalue())
    list(r2.events())
    tm2 = r2.table_maps[12]
    assert [c.collation for c in tm2.columns] == [0, 0, 8, 28, 63]


@given(st.sampled_from([3, 6, 10, 32, 251, 324, 500, 1000]),
       st.binary(min_size=0, max_size=40))
@settings(max_examples=80, deadline=None)
def test_unmapped_collation_fallback_surfaces_named(cid, payload):
    """Verdict r10 item 7: a collation id ABSENT from the codec table
    falls back to utf-8 — when the bytes aren't utf-8, the failure must
    NAME the collation id (a ValueError), never a bare
    UnicodeDecodeError and never silent mojibake of a mapped codec."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        _COLLATION_CODECS, _decode_text)

    assert cid not in _COLLATION_CODECS
    try:
        decoded = _decode_text(payload, cid)
        # fallback succeeded -> the bytes really were utf-8
        assert decoded == payload.decode("utf-8")
    except ValueError as exc:
        assert not isinstance(exc, UnicodeDecodeError)
        assert str(cid) in str(exc) and "collation" in str(exc)
        # and the bytes really were NOT utf-8
        with pytest.raises(UnicodeDecodeError):
            payload.decode("utf-8")


@given(st.sampled_from([8, 28, 33, 255, 63, 0]),
       st.text(alphabet="aé中ß ", max_size=12))
@settings(max_examples=60, deadline=None)
def test_mapped_collation_roundtrip_property(cid, text):
    """Mapped collations decode exactly what their codec encoded;
    63 (`binary`) has no codec and would stay bytes upstream."""
    from source_flink_cdc_3_5_0_spark.sources.mysql_binlog import (
        _decode_text, collation_codec)

    codec = collation_codec(cid)
    if codec is None:
        return  # binary: cells stay bytes, _decode_text is not called
    try:
        raw = text.encode(codec)
    except UnicodeEncodeError:
        return  # char not in this charset — nothing to round-trip
    assert _decode_text(raw, cid) == text


def test_yaml_mixed_latin1_utf8mb4_table_e2e(spark, tmp_path):
    """Verdict r10 item 7: a latin1/utf8mb4 MIXED table through the full
    YAML path — per-column collations from the charset TLVs drive the
    decode, so the latin1 bytes (cp1252 superset, NOT utf-8) and the
    utf8mb4 bytes both materialize correctly alongside an ENUM (whose
    own collation rides TLV 11 and must not shift the text columns)."""
    import json

    from source_flink_cdc_3_5_0_spark.common import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline)
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    cols = (BinlogColumn("id", MYSQL_TYPE_LONG, (), False, False),
            BinlogColumn("status", MYSQL_TYPE_STRING,
                         (MYSQL_TYPE_ENUM, 1),
                         str_values=("new", "sent"), collation=255),
            BinlogColumn("name_l1", MYSQL_TYPE_VARCHAR, (255,),
                         collation=8),     # latin1_swedish_ci
            BinlogColumn("name_u8", MYSQL_TYPE_VARCHAR, (1020,),
                         collation=255))   # utf8mb4_0900_ai_ci
    tmap = BinlogTableMap(31, "shop", "mixed", cols, (0,))
    src = tmp_path / "binlog"
    src.mkdir()
    w = BinlogWriter(server_id=9)
    w.table_map(tmap)
    rows = [dict(id=1, status="new", name_l1="café £10 €", name_u8="中文 🚀"),
            dict(id=2, status="sent", name_l1="Þorn øre", name_u8="données")]
    w.rows(tmap, WRITE_ROWS_EVENT, rows)
    w.xid(1)
    (src / "mysql-bin.000001").write_bytes(w.getvalue())
    # the wire truly carries latin1 single bytes for name_l1: 'é' is one
    # byte (0xE9), NOT the utf-8 pair — mis-mapped collations could not
    # round-trip this
    assert b"caf\xe9 \xa310 \x80" in w.getvalue()

    yaml_text = f"""
source:
  type: mysql-binlog-file
  path: {src}
  tables: '{json.dumps({"shop.mixed":
                        "id INT, status STRING, name_l1 STRING, name_u8 STRING"})}'
  primary-keys: '{{"shop.mixed": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    pipe.start(raw, tables).awaitTermination(180)
    assert sink.snapshot(TableId.parse("shop.mixed")) == [
        "1, new, café £10 €, 中文 🚀",
        "2, sent, Þorn øre, données",
    ]
