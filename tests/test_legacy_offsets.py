"""SQL Server/Db2 LsnOffset + Oracle RedoLogOffset comparison parity."""

import pytest
from hypothesis import given, strategies as st

from source_flink_cdc_3_5_0_spark.sources.legacy_offsets import (
    Lsn, LsnOffset, RedoLogOffset)


def test_lsn_string_roundtrip():
    s = "0000002A:00000F80:0003"
    lsn = Lsn.valueOf(s)
    assert str(lsn) == s and lsn.available
    assert not Lsn.valueOf(None).available
    assert not Lsn.valueOf("NULL").available
    assert str(Lsn(None)) == "NULL"
    with pytest.raises(ValueError, match="not a SQL Server LSN"):
        Lsn.valueOf("zz:aa")


@given(st.binary(min_size=10, max_size=10), st.binary(min_size=10, max_size=10))
def test_lsn_compare_matches_bytes(a, b):
    assert Lsn(a).compare(Lsn(b)) == (a > b) - (a < b)
    # and the string form round-trips
    assert Lsn.valueOf(str(Lsn(a))).data == a


def test_lsn_offset_compare():
    lo = LsnOffset(Lsn.valueOf("00000001:00000001:0001"),
                   Lsn.valueOf("00000001:00000001:0001"))
    hi = LsnOffset(Lsn.valueOf("00000002:00000001:0001"),
                   Lsn.valueOf("00000002:00000001:0001"))
    assert lo.compare(hi) == -1 and hi.compare(lo) == 1
    ns = LsnOffset.no_stopping()
    assert ns.compare(hi) == 1 and hi.compare(ns) == -1
    assert ns.compare(ns) == 0
    # unavailable commit LSN orders before available (reference branch)
    nolsn = LsnOffset(Lsn.valueOf("00000003:00000001:0001"))
    assert nolsn.compare(hi) == -1 and hi.compare(nolsn) == 1
    assert nolsn.compare(LsnOffset(Lsn.valueOf("00000009:00000001:0001"))) == 0
    # offset map keys mirror SourceInfo
    m = LsnOffset(Lsn.valueOf("00000001:00000001:0001"),
                  Lsn.valueOf("00000001:00000001:0002"), 3).offset_map()
    assert set(m) == {"change_lsn", "commit_lsn", "event_serial_no"}


def test_redo_log_offset_compare():
    a, b = RedoLogOffset(100, 90), RedoLogOffset(200, 150)
    assert a.compare(b) == -1 and b.compare(a) == 1
    assert a.compare(RedoLogOffset(100, 999)) == 0  # SCN alone orders
    ns = RedoLogOffset.no_stopping()
    assert ns.compare(b) == 1 and b.compare(ns) == -1 and ns.compare(ns) == 0
    assert RedoLogOffset.initial().compare(a) == -1
    assert RedoLogOffset(5, 4, "pos").offset_map()["lcr_position"] == "pos"


def test_change_stream_offset():
    from source_flink_cdc_3_5_0_spark.sources.mongodb import (
        ChangeStreamOffset)

    ts = (1_700_000_000 << 32) | 7
    a = ChangeStreamOffset(ts, '{"_data":"82"}')
    assert a.timestamp == ts and "_data" in a.offset_map()["resumeToken"]
    assert ChangeStreamOffset.from_json(a.to_json()) == a
    later = ChangeStreamOffset(((1_700_000_001 << 32) | 0))
    assert a.compare(later) == -1 and later.compare(a) == 1
    ns = ChangeStreamOffset.no_stopping()
    assert a.compare(ns) == -1 and ns.compare(ns) == 0
