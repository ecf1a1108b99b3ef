"""TiKV/TiDB codec + raw-KV changelog decode (sources/tidb.py).

Reference parity: flink-connector-tidb-cdc (RowDataTiKVChangeEvent
DeserializationSchema.java op switch) with the byte formats from TiDB's
public row-format RFC and codec.go.
"""

import datetime
import struct

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from source_flink_cdc_3_5_0_spark.common.events import BEFORE_COL, OP_COL
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL
from source_flink_cdc_3_5_0_spark.sources.tidb import (
    CODEC_VER, TIDB_KV_SCHEMA, TiTableInfo, decode_comparable_bytes,
    decode_comparable_float, decode_comparable_int, decode_record_key,
    decode_row, decode_row_v1, decode_row_v2, decode_tidb_kv,
    decode_uvarint, decode_varint, encode_comparable_float,
    encode_comparable_int, encode_record_key, encode_row_v1, encode_row_v2,
    encode_tidb_kv, encode_uvarint, encode_varint, is_record_key,
    pack_mysql_time, ti_column, unpack_mysql_time)

I64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


def encode_comparable_bytes(data: bytes) -> bytes:
    """Memcomparable byte groups: 8-byte chunks, marker ``0xFF - pad`` —
    the writer side of `decode_comparable_bytes`."""
    out = bytearray()
    i = 0
    while True:
        group = data[i:i + 8]
        pad = 8 - len(group)
        out += group + b"\x00" * pad
        out.append(0xFF - pad)
        i += 8
        if pad > 0:
            return bytes(out)


def table():
    return TiTableInfo(table_id=42, columns=(
        ti_column(1, "id", T.LongType(), pk_handle=True),
        ti_column(2, "name", T.StringType()),
        ti_column(3, "score", T.DoubleType()),
        ti_column(4, "n", T.IntegerType()),
        ti_column(5, "blob", T.BinaryType()),
        ti_column(6, "d", T.DateType()),
        ti_column(7, "ts", T.TimestampNTZType()),
        ti_column(260, "wide_id_col", T.LongType()),
    ))


# ---------------------------------------------------------------------------
# primitives
# ---------------------------------------------------------------------------


class TestPrimitives:
    @given(I64)
    @settings(max_examples=200, deadline=None)
    def test_comparable_int_roundtrip(self, v):
        assert decode_comparable_int(encode_comparable_int(v))[0] == v

    def test_comparable_int_is_memcomparable(self):
        vals = [-(1 << 63), -1000, -1, 0, 1, 7, 1 << 40, (1 << 63) - 1]
        encs = [encode_comparable_int(v) for v in vals]
        assert encs == sorted(encs)

    @given(I64)
    @settings(max_examples=200, deadline=None)
    def test_varint_roundtrip(self, v):
        buf = encode_varint(v)
        got, pos = decode_varint(buf, 0)
        assert (got, pos) == (v, len(buf))

    @given(st.integers(min_value=0, max_value=(1 << 64) - 1))
    @settings(max_examples=200, deadline=None)
    def test_uvarint_roundtrip(self, v):
        buf = encode_uvarint(v)
        assert decode_uvarint(buf, 0) == (v, len(buf))

    @given(st.binary(max_size=40))
    @settings(max_examples=200, deadline=None)
    def test_comparable_bytes_roundtrip(self, data):
        buf = encode_comparable_bytes(data)
        assert len(buf) % 9 == 0
        got, pos = decode_comparable_bytes(buf, 0)
        assert (got, pos) == (data, len(buf))

    def test_comparable_bytes_group_shapes(self):
        # 8-byte payload forces a trailing empty group with marker 0xF7
        assert len(encode_comparable_bytes(b"12345678")) == 18
        assert encode_comparable_bytes(b"")[-1] == 0xF7
        assert encode_comparable_bytes(b"abc")[-1] == 0xFF - 5

    def test_comparable_bytes_is_memcomparable(self):
        vals = [b"", b"a", b"ab", b"abcdefgh", b"abcdefghi", b"b"]
        encs = sorted(encode_comparable_bytes(v) for v in vals)
        assert [decode_comparable_bytes(e, 0)[0] for e in encs] == sorted(vals)

    @given(st.floats(allow_nan=False))
    @settings(max_examples=200, deadline=None)
    def test_comparable_float_roundtrip(self, f):
        assert decode_comparable_float(encode_comparable_float(f))[0] == f

    def test_comparable_float_ordering(self):
        vals = [float("-inf"), -2.5, -1e-300, 0.0, 1e-300, 2.5, float("inf")]
        encs = [encode_comparable_float(v) for v in vals]
        assert encs == sorted(encs)

    def test_packed_time(self):
        p = pack_mysql_time(1997, 7, 27)
        assert unpack_mysql_time(p) == (1997, 7, 27, 0, 0, 0, 0)
        p = pack_mysql_time(2024, 12, 31, 23, 59, 58, 999999)
        assert unpack_mysql_time(p) == (2024, 12, 31, 23, 59, 58, 999999)
        # packed values preserve chronological order
        assert pack_mysql_time(1999, 12, 31) < pack_mysql_time(2000, 1, 1)


# ---------------------------------------------------------------------------
# record keys + ranges
# ---------------------------------------------------------------------------


class TestRecordKeys:
    def test_key_layout(self):
        key = encode_record_key(42, -7)
        assert len(key) == 19 and key[:1] == b"t" and key[9:11] == b"_r"
        assert is_record_key(key)
        assert decode_record_key(key) == (42, -7)

    def test_key_ordering_by_handle(self):
        keys = [encode_record_key(42, h) for h in (-(1 << 62), -1, 0, 5)]
        assert keys == sorted(keys)

    def test_non_record_key_rejected(self):
        assert not is_record_key(b"t" + b"\0" * 8 + b"_i" + b"\0" * 8)
        with pytest.raises(ValueError):
            decode_record_key(b"m" + b"\0" * 18)


# ---------------------------------------------------------------------------
# row formats
# ---------------------------------------------------------------------------

ROW = {"name": "tidb", "score": -2.75, "n": -300, "blob": b"\x00\xff",
       "d": datetime.date(1997, 7, 27),
       "ts": datetime.datetime(2024, 1, 2, 3, 4, 5, 60000),
       "wide_id_col": 1 << 40}


class TestRowFormats:
    def test_v1_roundtrip(self):
        t = table()
        assert decode_row_v1(t, encode_row_v1(t, ROW)) == ROW

    def test_v2_roundtrip(self):
        t = table()
        buf = encode_row_v2(t, ROW)
        assert buf[0] == CODEC_VER
        assert decode_row_v2(t, buf) == ROW

    def test_nulls_roundtrip_both_formats(self):
        t = table()
        row = dict.fromkeys(ROW)
        assert decode_row_v1(t, encode_row_v1(t, row)) == row
        buf = encode_row_v2(t, row)
        # all-null v2 row: zero not-null cells, 7 null ids
        assert struct.unpack_from("<HH", buf, 2) == (0, 7)
        assert decode_row_v2(t, buf) == row

    def test_v2_big_flag_from_wide_column_id(self):
        t = table()
        buf = encode_row_v2(t, ROW)
        assert buf[1] & 0x01  # col_id 260 > 255 forces the big layout
        small = TiTableInfo(42, (ti_column(1, "id", T.LongType(),
                                           pk_handle=True),
                                 ti_column(2, "n", T.LongType())))
        assert encode_row_v2(small, {"n": 5})[1] == 0x00

    def test_v2_minimal_int_widths(self):
        small = TiTableInfo(42, (ti_column(1, "id", T.LongType(),
                                           pk_handle=True),
                                 ti_column(2, "n", T.LongType())))
        # header 6 + id 1 + offset 2 + cell
        assert len(encode_row_v2(small, {"n": 5})) == 6 + 1 + 2 + 1
        assert len(encode_row_v2(small, {"n": 1 << 20})) == 6 + 1 + 2 + 4
        for v in (5, -5, 127, -128, 1 << 20, -(1 << 50), (1 << 63) - 1):
            assert decode_row_v2(small, encode_row_v2(small, {"n": v})) == \
                {"n": v}

    def test_v2_checksum_suffix_rows_decode(self):
        """TiDB >= 6.x with tidb_enable_row_level_checksum=ON appends
        checksum bytes after the value section and sets flag bit 0x08 —
        the bounds check must treat the offsets as tiling a PREFIX then,
        not reject a well-formed row; without the flag, trailing garbage
        is still rejected."""
        t = table()
        buf = bytearray(encode_row_v2(t, ROW))
        buf[1] |= 0x08
        buf += b"\x01\xde\xad\xbe\xef"  # checksum header + crc32 stand-in
        assert decode_row_v2(t, bytes(buf)) == ROW
        plain = encode_row_v2(t, ROW) + b"\xde\xad"
        with pytest.raises(ValueError, match="corrupt v2 row"):
            decode_row_v2(t, plain)

    def test_decode_row_sniffs_version_and_fills_handle(self):
        t = table()
        for buf in (encode_row_v1(t, ROW), encode_row_v2(t, ROW)):
            row = decode_row(t, buf, handle=99)
            assert row["id"] == 99 and row["name"] == "tidb"

    def test_unknown_handle_columns_ignored(self):
        # decoding with a narrower TableInfo skips unknown col ids
        t = table()
        narrow = TiTableInfo(42, (ti_column(1, "id", T.LongType(),
                                            pk_handle=True),
                                  ti_column(2, "name", T.StringType())))
        for buf in (encode_row_v1(t, ROW), encode_row_v2(t, ROW)):
            assert decode_row(narrow, buf, 7) == {"id": 7, "name": "tidb"}

    def test_gated_kinds_raise(self):
        with pytest.raises(NotImplementedError):
            ti_column(9, "arr", T.ArrayType(T.LongType()))
        with pytest.raises(ValueError):
            ti_column(9, "j", T.LongType(), json=True)
        with pytest.raises(ValueError):
            ti_column(9, "x", T.StringType(), json=True, duration=True)

    @given(st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
           st.text(max_size=20),
           st.floats(allow_nan=False),
           st.one_of(st.none(), st.binary(max_size=16)))
    @settings(max_examples=60, deadline=None)
    def test_row_roundtrip_property(self, n, s, f, b):
        t = TiTableInfo(1, (ti_column(1, "id", T.LongType(), pk_handle=True),
                            ti_column(2, "n", T.LongType()),
                            ti_column(3, "s", T.StringType()),
                            ti_column(4, "f", T.DoubleType()),
                            ti_column(5, "b", T.BinaryType())))
        row = {"n": n, "s": s, "f": f, "b": b}
        assert decode_row_v1(t, encode_row_v1(t, row)) == row
        assert decode_row_v2(t, encode_row_v2(t, row)) == row


# ---------------------------------------------------------------------------
# Spark decode (the reference op switch)
# ---------------------------------------------------------------------------


def small_table():
    return TiTableInfo(table_id=9, columns=(
        ti_column(1, "id", T.LongType(), pk_handle=True),
        ti_column(2, "v", T.LongType()),
        ti_column(3, "s", T.StringType()),
    ))


def kv_df(spark, rows):
    return spark.createDataFrame(rows, TIDB_KV_SCHEMA)


class TestSparkDecode:
    def test_op_switch(self, spark):
        t = small_table()
        v1 = encode_row_v2(t, {"v": 10, "s": "a"})
        v2 = encode_row_v2(t, {"v": 11, "s": "b"})
        rows = [
            ("PUT", encode_record_key(9, 1), v1, None, 100),     # +I
            ("PUT", encode_record_key(9, 1), v2, v1, 200),       # +U w/ old
            ("DELETE", encode_record_key(9, 1), None, v2, 300),  # -D from old
        ]
        out = decode_tidb_kv(kv_df(spark, rows), t) \
            .orderBy(SEQ_COL).collect()
        assert [r[OP_COL] for r in out] == ["+I", "+U", "-D"]
        assert [r["id"] for r in out] == [1, 1, 1]
        assert [r["v"] for r in out] == [10, 11, 11]
        assert out[0][BEFORE_COL] is None
        assert out[1][BEFORE_COL]["v"] == 10 and out[1][BEFORE_COL]["id"] == 1
        assert out[2][BEFORE_COL] is None
        assert out[1]["__meta"]["handle"] == "1"
        assert out[1]["__meta"]["commit_ts"] == "200"

    def test_index_keys_skipped_and_mixed_versions(self, spark):
        t = small_table()
        idx_key = b"t" + encode_comparable_int(9) + b"_i" + b"\x00" * 8
        rows = [
            ("PUT", encode_record_key(9, 5),
             encode_row_v1(t, {"v": 1, "s": "x"}), None, 10),
            ("PUT", idx_key, encode_row_v2(t, {"v": 2, "s": "y"}), None, 11),
        ]
        out = decode_tidb_kv(kv_df(spark, rows), t).collect()
        assert len(out) == 1 and out[0]["id"] == 5 and out[0]["s"] == "x"

    def test_snapshot_decode(self, spark):
        t = small_table()
        kv = kv_df(spark, [
            ("PUT", encode_record_key(9, h),
             encode_row_v2(t, {"v": h * 2, "s": str(h)}), None, 777)
            for h in range(4)])
        out = decode_tidb_kv(kv, t).orderBy("id").collect()
        assert [r[OP_COL] for r in out] == ["+I"] * 4
        assert [(r["id"], r["v"]) for r in out] == [(h, h * 2)
                                                    for h in range(4)]
        assert {r[SEQ_COL] for r in out} == {777}

    def test_encode_decode_spark_roundtrip(self, spark):
        t = small_table()
        payload = t.payload_schema()
        script = spark.createDataFrame(
            [("PUT", {"id": 1, "v": 7, "s": "a"}, None, 10),
             ("PUT", {"id": 1, "v": 8, "s": "a"},
              {"id": 1, "v": 7, "s": "a"}, 20),
             ("DELETE", None, {"id": 1, "v": 8, "s": "a"}, 30),
             ("PUT", {"id": 2, "v": 9, "s": None}, None, 40)],
            T.StructType([T.StructField("op_type", T.StringType()),
                          T.StructField("after", payload),
                          T.StructField("before", payload),
                          T.StructField("commit_ts", T.LongType())]))
        env = decode_tidb_kv(encode_tidb_kv(script, t), t)
        out = {(r["id"], r[SEQ_COL]): r for r in env.collect()}
        assert out[(1, 10)][OP_COL] == "+I"
        assert out[(1, 20)][OP_COL] == "+U"
        assert out[(1, 20)][BEFORE_COL]["v"] == 7
        assert out[(1, 30)][OP_COL] == "-D" and out[(1, 30)]["v"] == 8
        assert out[(2, 40)]["s"] is None and out[(2, 40)]["v"] == 9


class TestCorruptionRobustness:
    """Truncated/corrupted wire bytes must raise cleanly (never hang,
    never return a partial row silently misparsed as complete) — same
    discipline as the JPEG codec's truncation fuzz."""

    @given(st.data())
    @settings(max_examples=80, deadline=None)
    def test_truncated_rows_raise_or_decode(self, data):
        t = table()
        buf = encode_row_v2(t, ROW) if data.draw(st.booleans()) \
            else encode_row_v1(t, ROW)
        full = decode_row(t, buf, handle=1)
        cut = data.draw(st.integers(min_value=1, max_value=len(buf) - 1))
        try:
            out = decode_row(t, buf[:cut], handle=1)
        except (ValueError, IndexError, KeyError, NotImplementedError,
                struct.error, UnicodeDecodeError, OverflowError):
            return  # clean structured failure
        # A decode that *succeeds* on truncated bytes must be prefix-
        # consistent: every materialized cell equals the full-row value
        # (v1 may legally stop at a datum boundary; it must never emit a
        # corrupted cell, and v2's offset-tiling check must have fired).
        for k, v in out.items():
            assert v is None or v == full[k], (cut, k, v, full[k])

    @given(st.data())
    @settings(max_examples=80, deadline=None)
    def test_bitflipped_rows_raise_or_decode(self, data):
        t = table()
        buf = bytearray(encode_row_v2(t, ROW))
        pos = data.draw(st.integers(min_value=0, max_value=len(buf) - 1))
        buf[pos] ^= 1 << data.draw(st.integers(min_value=0, max_value=7))
        try:
            out = decode_row(t, bytes(buf), handle=1)
            assert isinstance(out, dict)  # survived -> still a row shape
        except (ValueError, IndexError, KeyError, NotImplementedError,
                struct.error, UnicodeDecodeError, OverflowError):
            pass


def test_old_value_disabled_mode_normalizes(spark):
    """TiKV without the old-value feature sends PUT with an EMPTY old_value
    even for updates — decode then yields an UPSERT stream (+I per PUT,
    like MongoDB's upsert mode), and `changelog_normalize` reconstructs the
    retraction stream downstream consumers need."""
    from source_flink_cdc_3_5_0_spark.streaming.materialize import (
        changelog_normalize,
    )

    t = small_table()
    rows = [
        ("PUT", encode_record_key(9, 1),
         encode_row_v2(t, {"v": 10, "s": "a"}), None, 100),
        ("PUT", encode_record_key(9, 1),            # update, no old value
         encode_row_v2(t, {"v": 11, "s": "a"}), None, 200),
        ("DELETE", encode_record_key(9, 1), None,   # delete, no old image
         None, 300),
    ]
    env = decode_tidb_kv(kv_df(spark, rows), t)
    assert [r[OP_COL] for r in env.orderBy(SEQ_COL).collect()] \
        == ["+I", "+I", "-D"]
    norm = changelog_normalize(env.drop(BEFORE_COL, "__meta"),
                               ["id"], SEQ_COL)
    got = {r[SEQ_COL]: r for r in norm.collect()}
    assert got[100][OP_COL] == "+I"
    assert got[200][OP_COL] == "+U" and got[200][BEFORE_COL]["v"] == 10
    assert got[300][OP_COL] == "-D" and got[300]["v"] == 11  # image restored


def test_incremental_snapshot_stitch_over_tikv_chunks(spark):
    """The DBLog chunk-consistency protocol composed over the TiDB source —
    the reference's incremental-snapshot framework is source-agnostic
    (flink-cdc-base), so region-scan chunks read at DIFFERENT instants plus
    the raw-KV CDC log must stitch to a consistent image: every chunk
    lands at its OWN high watermark.  All wire bytes are real TiKV
    encodings (snapshot values AND log events)."""
    from source_flink_cdc_3_5_0_spark.sources.jdbc import ChunkRange
    from source_flink_cdc_3_5_0_spark.streaming.chunk_stitch import (
        ChunkWatermarks, consistent_chunk_image,
    )

    t = small_table()  # id (pk_handle), v, s
    N = 80

    def img(h, at_ts):
        # scripted history: insert v=h*2 @h, update +5 on h%3==0 @100+h,
        # delete h%7==0 @200+h
        if at_ts >= 200 + h and h % 7 == 0:
            return None
        v = h * 2 + (5 if h % 3 == 0 and at_ts >= 100 + h else 0)
        return {"id": h, "v": v, "s": str(h)}

    # the CDC log as real KV events
    log_rows = []
    for h in range(N):
        log_rows.append(("PUT", encode_record_key(9, h),
                         encode_row_v2(t, {"v": h * 2, "s": str(h)}),
                         None, h))
        if h % 3 == 0:
            log_rows.append(("PUT", encode_record_key(9, h),
                             encode_row_v2(t, {"v": h * 2 + 5, "s": str(h)}),
                             encode_row_v1(t, {"v": h * 2, "s": str(h)}),
                             100 + h))
        if h % 7 == 0:
            log_rows.append(("DELETE", encode_record_key(9, h), None,
                             encode_row_v1(t, img(h, 199)),
                             200 + h))
    log = decode_tidb_kv(kv_df(spark, log_rows), t)

    # four handle-range chunks, region-scanned at staggered instants:
    # chunk0 @ts 90 (inserts only), chunk1 @ts 190 (updates visible),
    # chunks 2-3 @ts 290 (deletes visible)
    reads = [(0, 20, 90), (20, 40, 190), (40, 60, 290), (60, None, 290)]
    snap_parts, marks = [], []
    for lo, hi, ts in reads:
        kv_rows = []
        for h in range(lo, hi if hi is not None else N):
            image = img(h, ts)
            if image is not None:
                kv_rows.append(
                    ("PUT", encode_record_key(9, h),
                     encode_row_v2(t, {k: v for k, v in image.items()
                                       if k != "id"}), None, ts))
        snap_parts.append(decode_tidb_kv(kv_df(spark, kv_rows), t))
        marks.append(ChunkWatermarks(ChunkRange(lo, hi), 0, ts))

    snapshot = snap_parts[0]
    for p in snap_parts[1:]:
        snapshot = snapshot.unionByName(p)
    out = consistent_chunk_image(
        snapshot.select("id", "v", "s"), log, ["id"], "id", marks)

    # oracle: each chunk's state at its OWN high watermark
    expect = {}
    for lo, hi, ts in reads:
        for h in range(lo, hi if hi is not None else N):
            image = img(h, ts)
            if image is not None:
                expect[h] = (image["v"], image["s"])
    got = {r["id"]: (r["v"], r["s"]) for r in out.collect()}
    assert got == expect


# ---------------------------------------------------------------------------
# DECIMAL / JSON / DURATION cells (round-7: the gates closed)
# ---------------------------------------------------------------------------

_JSON_SCALARS = st.one_of(
    st.none(), st.booleans(),
    st.integers(min_value=-(1 << 63), max_value=(1 << 64) - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=24))
_JSON_VALUES = st.recursive(
    _JSON_SCALARS,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(max_size=8), children, max_size=4)),
    max_leaves=12)


def _rich_table():
    return TiTableInfo(55, (
        ti_column(1, "id", T.LongType(), pk_handle=True),
        ti_column(2, "dec", T.DecimalType(20, 6)),
        ti_column(3, "doc", T.StringType(), json=True),
        ti_column(4, "dur", T.StringType(), duration=True),
        ti_column(5, "tail", T.StringType()),
    ))


class TestRichCellKinds:
    """The TiDB DECIMAL / JSON / DURATION wire codecs.

    Reference decodes these via the tikv-client jar
    (`RowDataTiKVChangeEventDeserializationSchema.java:59-105`); the byte
    layouts here follow the public `tidb/util/codec/codec.go` (v1 datum
    flags 6/7/10) and `tidb/util/rowcodec` (v2 cells).
    """

    def test_both_formats_roundtrip_with_trailing_column(self):
        """`tail` sits AFTER the unprefixed-length JSON datum in v1, so a
        wrong PeekBytesAsJSON-analog size would corrupt it."""
        import decimal
        t = _rich_table()
        row = {"dec": decimal.Decimal("-1234567890.123456"),
               "doc": '{"k": [1, null, "s"], "n": {"x": 2.5}}',
               "dur": "-838:59:59.000001", "tail": "after-json"}
        for enc, dec in ((encode_row_v1, decode_row_v1),
                         (encode_row_v2, decode_row_v2)):
            out = dec(t, enc(t, row))
            assert out["dec"] == decimal.Decimal("-1234567890.123456")
            assert out["doc"] == '{"k":[1,null,"s"],"n":{"x":2.5}}'
            assert out["dur"] == "-838:59:59.000001"
            assert out["tail"] == "after-json"

    @given(st.decimals(min_value=-99999999999999, max_value=99999999999999,
                       allow_nan=False, allow_infinity=False, places=6))
    @settings(max_examples=120, deadline=None)
    def test_decimal_roundtrip_property(self, d):
        import decimal
        t = _rich_table()
        row = {"dec": d, "doc": None, "dur": None, "tail": None}
        want = d.quantize(decimal.Decimal(1).scaleb(-6))
        assert decode_row_v1(t, encode_row_v1(t, row))["dec"] == want
        assert decode_row_v2(t, encode_row_v2(t, row))["dec"] == want

    @given(_JSON_VALUES)
    @settings(max_examples=100, deadline=None)
    def test_json_roundtrip_property(self, v):
        """encode -> decode -> parse returns the original python value
        (canonical text form compared via json.loads: binary JSON stores
        object keys sorted by length-then-bytes, not input order)."""
        import json as _json
        t = _rich_table()
        row = {"dec": None, "doc": _json.dumps(v), "dur": None,
               "tail": None}
        for enc, dec in ((encode_row_v1, decode_row_v1),
                         (encode_row_v2, decode_row_v2)):
            got = dec(t, enc(t, row))["doc"]
            if v is None:
                assert got is None  # engine NULL (documented edge)
            else:
                assert _json.loads(got) == v

    @given(st.integers(min_value=-(839 * 3600 * 10 ** 6),
                       max_value=839 * 3600 * 10 ** 6))
    @settings(max_examples=120, deadline=None)
    def test_duration_roundtrip_property(self, micros):
        from source_flink_cdc_3_5_0_spark.sources.tidb import (
            duration_to_nanos, nanos_to_duration)
        t = _rich_table()
        text = nanos_to_duration(micros * 1000)
        assert duration_to_nanos(text) == micros * 1000
        row = {"dec": None, "doc": None, "dur": text, "tail": None}
        assert decode_row_v1(t, encode_row_v1(t, row))["dur"] == text
        assert decode_row_v2(t, encode_row_v2(t, row))["dur"] == text

    def test_v1_decimal_flag_bytes_pinned(self):
        """Known answer: flag 6, precision 14, frac 4, then the pinned
        NEWDECIMAL bytes for 1234567890.1234 (strings/decimal.c example —
        same pin as tests/test_mysql_binlog.py)."""
        import decimal
        t = TiTableInfo(1, (
            ti_column(1, "id", T.LongType(), pk_handle=True),
            ti_column(2, "d", T.DecimalType(14, 4))))
        buf = encode_row_v1(t, {"d": decimal.Decimal("1234567890.1234")})
        # colID datum (varint 2), then the decimal datum
        assert buf.hex() == "08" + "04" + "060e04" + "810dfb38d204d2"
        assert decode_row_v1(t, buf)["d"] == decimal.Decimal(
            "1234567890.1234")

    def test_v2_decimal_cell_size_validated(self):
        """A well-formed v2 row whose cell bytes are not a DECIMAL(p,s)
        of the advertised size must surface the size mismatch, not
        mis-decode (offset tiling is fine here — only the content is
        wrong)."""
        dec_t = TiTableInfo(1, (
            ti_column(1, "id", T.LongType(), pk_handle=True),
            ti_column(2, "d", T.DecimalType(14, 4))))
        raw_t = TiTableInfo(1, (
            ti_column(1, "id", T.LongType(), pk_handle=True),
            ti_column(2, "d", T.BinaryType())))
        # 3-byte cell: [prec=14][frac=4] + ONE byte (wire needs 7)
        buf = encode_row_v2(raw_t, {"d": bytes([14, 4, 0x81])})
        with pytest.raises(ValueError, match="DECIMAL"):
            decode_row_v2(dec_t, buf)
        # truncating the value section still trips the offset check
        good = encode_row_v2(dec_t, {"d": 7})
        with pytest.raises(ValueError, match="tile|DECIMAL"):
            decode_row_v2(dec_t, _truncate_last_cell(good))

    def test_duration_parse_rejects_garbage(self):
        from source_flink_cdc_3_5_0_spark.sources.tidb import (
            duration_to_nanos)
        for bad in ("1:2", "xx:yy:zz", "1:88:00", "", "1:2:3.1234567"):
            with pytest.raises(ValueError):
                duration_to_nanos(bad)


def _truncate_last_cell(buf: bytes) -> bytes:
    # chop one byte off the value section so the offsets no longer tile
    # -> the decoder must surface it (offset check or DECIMAL size check)
    return buf[:-1]


def test_v2_row_header_known_answer():
    """Hand-assembled v2 rows per the public row-format RFC: version
    0x80, flags, u16le not-null/null counts, sorted id array, u16le
    end-offset array, minimal-width little-endian int cells."""
    t = TiTableInfo(1, (ti_column(1, "id", T.LongType(), pk_handle=True),
                        ti_column(2, "n", T.LongType())))
    assert encode_row_v2(t, {"n": 7}).hex() == \
        "80" "00" "0100" "0000" "02" "0100" "07"
    assert encode_row_v2(t, {"n": None}).hex() == \
        "80" "00" "0000" "0100" "02"
    # -300 needs two bytes: 0xFED4 little-endian
    assert encode_row_v2(t, {"n": -300}).hex() == \
        "80" "00" "0100" "0000" "02" "0200" "d4fe"
    for row in ({"n": 7}, {"n": None}, {"n": -300}):
        assert decode_row_v2(t, encode_row_v2(t, row)) == row
