"""Regression tests for the round-1 code-review findings."""

from pyspark.sql import Row, types as T

from source_flink_cdc_3_5_0_spark.api import transform_table
from source_flink_cdc_3_5_0_spark.common import (
    AlterColumnTypeEvent,
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from source_flink_cdc_3_5_0_spark.operators.schema_evolution import (
    apply_schema_change_event,
    lenientize,
)
from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource

TID = TableId.parse("a.b.t")


def test_lenientize_does_not_contaminate_type_singletons():
    """Finding: tagging _force_nullable on DataType singletons leaked into
    every later AlterColumnTypeEvent process-wide."""
    from source_flink_cdc_3_5_0_spark.common.events import DropColumnEvent

    s = Schema.of(Column("a", T.IntegerType(), False), Column("b", T.IntegerType(), False))
    lenientize(s, DropColumnEvent(TID, ("a",)))  # relaxes 'a' via ALTER
    # a GENUINE alter on another non-nullable int column must keep
    # nullable=False
    plain_alter = AlterColumnTypeEvent(TID, (("b", T.IntegerType()),))
    out = apply_schema_change_event(s, plain_alter)
    assert out.get_column("b").nullable is False


def test_filter_guard_inside_function_args(spark):
    """Finding: guard elision leaked into function arguments — reference
    gives COALESCE((NULL>5)=false, TRUE) -> false -> row dropped."""
    df = spark.createDataFrame([Row(id=1, x=None), Row(id=2, x=10)],
                               "id INT, x INT")
    out = transform_table(df, projection="id", filter="COALESCE(x > 5, TRUE)")
    assert sorted(r["id"] for r in out.collect()) == [2]


def test_filter_guard_is_false(spark):
    """(x = 1) IS FALSE with x NULL: reference -> false IS FALSE -> true."""
    df = spark.createDataFrame([Row(id=1, x=None), Row(id=2, x=1)], "id INT, x INT")
    out = transform_table(df, projection="id", filter="(x = 1) IS FALSE")
    assert sorted(r["id"] for r in out.collect()) == [1]


def test_before_image_with_metadata_column(spark):
    """Finding: before-image projection rewrote __data_event_type__ into
    __before.__op (nonexistent field) -> AnalysisException."""
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    schema = Schema.of(Column("id", T.IntegerType(), False), Column("v", T.StringType()),
                       primary_keys=["id"])
    yaml_text = """
source: {type: values}
sink: {type: values}
transform:
  - source-table: a.b.\\.*
    projection: "id, v, __data_event_type__ AS op_tag"
"""
    events = [
        CreateTableEvent(TID, schema),
        DataChangeEvent.insert(TID, (1, "a")),
        DataChangeEvent.update(TID, (1, "a"), (1, "a2")),
    ]
    sink = MemorySink()
    PipelineComposer(spark).compose(parse_yaml_pipeline(yaml_text),
                                    source=ValuesSource(events), sink=sink).run()
    assert sink.snapshot(TID) == ["1, a2, +U"]


def test_full_month_name_pattern(spark):
    from source_flink_cdc_3_5_0_spark.functions.datetime_patterns import translate_java_pattern

    assert translate_java_pattern("MMMM yyyy") == "MMMM yyyy"
    df = spark.createDataFrame([Row(t="2024-01-15 00:00:00")])
    out = transform_table(
        df, projection="DATE_FORMAT(TO_TIMESTAMP(t, 'yyyy-MM-dd HH:mm:ss'), 'MMMM') AS m")
    assert out.collect()[0]["m"] == "January"
