"""Full-type-coverage pipeline test (FIXTURES.md F3 / data_types_test.sql
analog): every mapped type flows source → transform → coercion → sink and
round-trips canal-json decode."""

import datetime
import json
from decimal import Decimal

from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.common import (
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sources.debezium import decode_canal, encode_canal
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

TID = TableId.parse("tps.db.DATA_TYPES_TABLE")

SCHEMA = Schema.of(
    Column("id", T.IntegerType(), False),
    Column("c_tinyint", T.ByteType()),
    Column("c_smallint", T.ShortType()),
    Column("c_bigint", T.LongType()),
    Column("c_decimal", T.DecimalType(8, 4)),
    Column("c_udecimal", T.DecimalType(20, 0)),   # BIGINT UNSIGNED mapping
    Column("c_float", T.FloatType()),
    Column("c_double", T.DoubleType()),
    Column("c_bool", T.BooleanType()),
    Column("c_date", T.DateType()),
    Column("c_ts_ntz", T.TimestampNTZType()),     # DATETIME mapping
    Column("c_text", T.StringType()),
    Column("c_blob", T.BinaryType()),
    Column("c_arr", T.ArrayType(T.IntegerType())),
    Column("c_map", T.MapType(T.StringType(), T.StringType())),
    primary_keys=["id"],
)

ROW = (
    1, 7, 300, 5_000_000_000, Decimal("1234.5678"), Decimal("18446744073709551615"),
    1.5, 2.25, True, datetime.date(2024, 3, 5),
    datetime.datetime(2024, 3, 5, 10, 30), "text-value", bytearray(b"\x01\x02"),
    [1, 2, 3], {"k": "v"},
)


def test_all_types_through_pipeline(spark):
    events = [CreateTableEvent(TID, SCHEMA), DataChangeEvent.insert(TID, ROW)]
    sink = MemorySink()
    pdef = parse_yaml_pipeline("source: {type: values}\nsink: {type: values}\n")
    PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()
    state = list(sink.state[TID].values())[0]
    assert state["c_decimal"] == Decimal("1234.5678")
    assert state["c_udecimal"] == Decimal("18446744073709551615")
    assert state["c_bigint"] == 5_000_000_000
    assert state["c_date"] == datetime.date(2024, 3, 5)
    assert state["c_ts_ntz"] == datetime.datetime(2024, 3, 5, 10, 30)
    assert bytes(state["c_blob"]) == b"\x01\x02"
    assert state["c_arr"] == [1, 2, 3]
    assert state["c_map"] == {"k": "v"}
    # sink schema preserves exact types
    st = sink.schemas[TID]
    assert st.get_column("c_decimal").data_type == T.DecimalType(8, 4)
    assert st.get_column("c_ts_ntz").data_type == T.TimestampNTZType()


def test_canal_decode_roundtrip(spark):
    """encode_canal -> decode_canal restores ops/images (simple types only —
    canal JSON renders binary/array/map lossily, as in the reference)."""
    simple = Schema.of(
        Column("id", T.IntegerType(), False), Column("v", T.StringType()),
        primary_keys=["id"])
    tid = TableId.parse("a.b.t")
    from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource as VS

    events = [
        CreateTableEvent(tid, simple),
        DataChangeEvent.insert(tid, (1, "x")),
        DataChangeEvent.update(tid, (1, "x"), (1, "y")),
        DataChangeEvent.delete(tid, (1, "y")),
    ]
    batches = list(VS(events).batches(spark))
    df = batches[0][0].data
    encoded = encode_canal(df, tid, simple)
    decoded = decode_canal(encoded, simple.struct_type())
    ops = [(r["id"], r["__op"], r["v"]) for r in decoded.collect()]
    assert sorted(ops, key=str) == [(1, "+I", "x"), (1, "+U", "y"), (1, "-D", "y")]
    upd = [r for r in decoded.collect() if r["__op"] == "+U"][0]
    assert upd["__before"]["v"] == "x"


# --- legacy connector type mapping (oracle) ----------------------------------
# Parity: OracleTypeUtils.java:44-90.

def test_oracle_type_mapping():
    from source_flink_cdc_3_5_0_spark.common.types import \
        oracle_type_to_spark as m
    assert m("VARCHAR2") == T.StringType()
    assert m("NCLOB") == T.StringType()
    assert m("BLOB") == T.BinaryType()
    assert m("RAW") == T.BinaryType()
    # ANSI int aliases all land on INT (Types.INTEGER/SMALLINT/TINYINT)
    assert m("SMALLINT") == T.IntegerType()
    assert m("TINYINT") == T.IntegerType()
    # NUMBER keeps (length, scale|0)
    assert m("NUMBER", 10, 2) == T.DecimalType(10, 2)
    assert m("NUMBER", 10) == T.DecimalType(10, 0)
    assert m("NUMBER") == T.DecimalType(38, 0)          # undeclared precision
    # out-of-range precision clamps to 38 but KEEPS the declared scale
    # (fractional digits survive; overflow risk moves to integer digits)
    assert m("NUMBER", 77, 5) == T.DecimalType(38, 5)
    assert m("NUMBER", 40, 2) == T.DecimalType(38, 2)
    assert m("BINARY_FLOAT") == T.FloatType()
    assert m("BINARY_DOUBLE") == T.DoubleType()
    # Oracle DATE carries time-of-day to the second; the JDBC driver reports
    # it as Types.TIMESTAMP, so the reference (and we) map it to an instant
    assert m("DATE") == T.TimestampNTZType()
    # all three timestamp forms map to an instant
    assert m("TIMESTAMP") == T.TimestampNTZType()
    assert m("TIMESTAMP(6) WITH TIME ZONE") == T.TimestampType()
    assert m("TIMESTAMP WITH LOCAL TIME ZONE") == T.TimestampType()
    # INTERVALYM / INTERVALDS -> Spark's interval types; the catalog's
    # embedded precisions must not affect the mapping (the reference
    # switches on jdbcType, OracleTypeUtils.java:79-82)
    assert isinstance(m("INTERVAL YEAR TO MONTH"), T.YearMonthIntervalType)
    assert isinstance(m("INTERVAL DAY TO SECOND"), T.DayTimeIntervalType)
    assert isinstance(m("INTERVAL YEAR(2) TO MONTH"), T.YearMonthIntervalType)
    assert isinstance(m("INTERVAL DAY(2) TO SECOND(6)"),
                      T.DayTimeIntervalType)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        m("SDO_GEOMETRY")  # unsupported -> raise (reference default arm)
