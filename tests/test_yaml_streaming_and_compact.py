"""YAML-driven streaming pipelines and parquet-sink compaction."""

import json
import os

from source_flink_cdc_3_5_0_spark.common import (
    Column,
    CreateTableEvent,
    DataChangeEvent,
    Schema,
    TableId,
)
from pyspark.sql import types as T

from source_flink_cdc_3_5_0_spark.pipeline import PipelineComposer, parse_yaml_pipeline
from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
from source_flink_cdc_3_5_0_spark.sinks.lakehouse import SnapshotLakeSink
from source_flink_cdc_3_5_0_spark.sources.values import ValuesSource


def dbz(table, op, after=None, before=None, ts=0):
    return json.dumps({"before": before, "after": after, "op": op, "ts_ms": ts,
                       "source": {"db": "inv", "schema": "s", "table": table}})


def test_yaml_streaming_pipeline(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            dbz("products", "c", {"id": 1, "name": "bolt"}, ts=1),
            dbz("products", "c", {"id": 2, "name": "nut"}, ts=2),
            dbz("products", "d", None, {"id": 1, "name": "bolt"}, ts=3),
        ]))
    yaml_text = f"""
source:
  type: debezium-file
  path: {src}
  tables: '{{"inv.s.products": "id BIGINT, name STRING"}}'
  primary-keys: '{{"inv.s.products": ["id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
transform:
  - source-table: inv.s.\\.*
    projection: "id, UPPER(name) AS name_u"
"""
    pdef = parse_yaml_pipeline(yaml_text)
    composer = PipelineComposer(spark)
    assert composer.is_streaming(pdef)
    sink = MemorySink()
    pipe, raw, tables = composer.compose_streaming(pdef, sink=sink)
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    tid = TableId.parse("inv.s.products")
    assert sink.snapshot(tid) == ["2, NUT"]


def test_parquet_sink_compaction(spark, tmp_path):
    tid = TableId.parse("a.b.t")
    schema = Schema.of(Column("id", T.IntegerType(), False), Column("v", T.StringType()),
                       primary_keys=["id"])
    sink = SnapshotLakeSink(str(tmp_path), num_buckets=2, keep_last=1)
    # several pipeline runs -> several commits per bucket
    for gen in range(3):
        events = [CreateTableEvent(tid, schema)] + [
            DataChangeEvent.insert(tid, (i + gen * 10, f"g{gen}")) for i in range(4)]
        pdef = parse_yaml_pipeline("source: {type: values}\nsink: {type: values}\n")
        PipelineComposer(spark).compose(pdef, source=ValuesSource(events), sink=sink).run()
    before = sink.read(spark, tid).count()
    data_dir = os.path.join(str(tmp_path), "a.b.t", "data")
    bucket0 = os.path.join(data_dir, "__bucket=0")
    n_files_before = len([f for f in os.listdir(bucket0) if f.endswith(".parquet")])
    sink.compact(spark, tid)
    n_files_after = len([f for f in os.listdir(bucket0) if f.endswith(".parquet")])
    assert n_files_after == 1 <= n_files_before
    assert sink.read(spark, tid).count() == before  # no data change
