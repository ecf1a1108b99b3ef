"""MongoDB change-stream codec and ChangelogNormalize.

Reference parity: flink-connector-mongodb-cdc —
MongoDBConnectorDeserializationSchema.java:125-170 (upsert decode),
MongoDBConnectorFullChangelogDeserializationSchema.java:60-130 (pre/post
images).
"""

import json
import random

import pytest
from pyspark.sql import functions as F, types as T

from source_flink_cdc_3_5_0_spark.common.events import BEFORE_COL, META_COL, OP_COL
from source_flink_cdc_3_5_0_spark.sources.base import SEQ_COL
from source_flink_cdc_3_5_0_spark.sources.mongodb import (
    decode_mongo_changestream,
)
from source_flink_cdc_3_5_0_spark.streaming.materialize import (
    changelog_normalize, latest_image,
)

PAYLOAD = T.StructType([
    T.StructField("_id", T.LongType(), True),
    T.StructField("name", T.StringType(), True),
    T.StructField("qty", T.LongType(), True),
])


def _ev(op, doc=None, key=None, before=None, ct=0, tok="t0", coll="items"):
    e = {"_id": {"_data": tok}, "operationType": op, "clusterTime": ct,
         "ns": {"db": "shop", "coll": coll}}
    if doc is not None:
        e["fullDocument"] = doc
    if key is not None:
        e["documentKey"] = key
    if before is not None:
        e["fullDocumentBeforeChange"] = before
    return json.dumps(e)


def _raw(spark, lines):
    return spark.createDataFrame(
        [(v, i) for i, v in enumerate(lines)], "value STRING, offset LONG")


def test_decode_upsert_mode(spark):
    lines = [
        _ev("insert", doc={"_id": 1, "name": "a", "qty": 5}, ct=100),
        _ev("update", doc={"_id": 1, "name": "a", "qty": 7},
            key={"_id": 1}, ct=101),
        _ev("replace", doc={"_id": 1, "name": "b", "qty": 7},
            key={"_id": 1}, ct=102),
        # update whose post-lookup fullDocument vanished -> dropped
        _ev("update", key={"_id": 9}, ct=103),
        _ev("delete", key={"_id": 1}, ct=104),
        # collection-level events -> ignored
        _ev("drop", ct=105), _ev("rename", ct=106),
        _ev("invalidate", ct=107), _ev("dropDatabase", ct=108),
    ]
    out = decode_mongo_changestream(_raw(spark, lines), PAYLOAD)
    rows = out.orderBy(SEQ_COL).collect()
    assert [r[OP_COL] for r in rows] == ["+I", "+U", "+U", "-D"]
    # upsert mode: no before-images ever
    assert all(r[BEFORE_COL] is None for r in rows)
    # delete carries key only, other columns null
    d = rows[-1]
    assert (d["_id"], d["name"], d["qty"]) == (1, None, None)
    # replace (REPLACE op) decodes as +U with the full document
    r = rows[2]
    assert (r["name"], r["qty"]) == ("b", 7)
    # metadata: ns + clusterTime ms + resume token
    assert rows[0][META_COL]["db"] == "shop"
    assert rows[0][META_COL]["coll"] == "items"
    assert rows[0][META_COL]["ts_ms"] == "100000"
    # offset column wins as seq
    assert [r[SEQ_COL] for r in rows] == [0, 1, 2, 4]


def test_decode_seq_falls_back_to_cluster_time(spark):
    raw = spark.createDataFrame(
        [(_ev("insert", doc={"_id": 3, "name": "x", "qty": 1}, ct=777),)],
        "value STRING")
    out = decode_mongo_changestream(raw, PAYLOAD)
    # seq rides the BSON Timestamp long scale: plain seconds shift up 32
    # bits (i = 0) so they stay comparable with {"$timestamp":{t,i}} events
    assert out.collect()[0][SEQ_COL] == 777 << 32


def test_decode_full_changelog_mode(spark):
    lines = [
        _ev("insert", doc={"_id": 1, "name": "a", "qty": 5}, ct=1),
        _ev("update", doc={"_id": 1, "name": "a", "qty": 7},
            key={"_id": 1}, before={"_id": 1, "name": "a", "qty": 5}, ct=2),
        _ev("delete", key={"_id": 1},
            before={"_id": 1, "name": "a", "qty": 7}, ct=3),
        # pre-image missing (not enabled for this doc) -> key-only delete
        _ev("delete", key={"_id": 2}, ct=4),
    ]
    out = decode_mongo_changestream(_raw(spark, lines), PAYLOAD,
                                    full_changelog=True)
    rows = out.orderBy(SEQ_COL).collect()
    u = rows[1]
    assert u[OP_COL] == "+U" and u[BEFORE_COL]["qty"] == 5
    d1 = rows[2]
    assert d1[OP_COL] == "-D" and (d1["name"], d1["qty"]) == ("a", 7)
    d2 = rows[3]
    assert (d2["_id"], d2["name"]) == (2, None)


def _naive_normalize(events):
    """Keyed state machine oracle: events = (key, op, image_dict, seq)."""
    state, out = {}, []
    for key, op, img, seq in sorted(events, key=lambda e: e[3]):
        if op == "-D":
            if key in state:
                out.append((key, "-D", state.pop(key), None, seq))
        else:
            if key in state:
                out.append((key, "+U", img, state[key], seq))
            else:
                out.append((key, "+I", img, None, seq))
            state[key] = img
    return out


def test_changelog_normalize_matches_state_machine(spark):
    rng = random.Random(7)
    events = []
    seq = 0
    for _ in range(400):
        key = rng.randrange(12)
        op = rng.choice(["+I", "+U", "-D"])
        img = {"_id": key, "name": f"n{rng.randrange(5)}",
               "qty": rng.randrange(100)}
        events.append((key, op, img, seq))
        seq += 1
    df = spark.createDataFrame(
        [(e[2]["_id"], e[2]["name"], e[2]["qty"]
          if e[1] != "-D" else None, e[1], e[3]) for e in events],
        f"_id LONG, name STRING, qty LONG, {OP_COL} STRING, {SEQ_COL} LONG")
    # deletes in upsert streams are key-only: blank their non-key columns
    df = df.select(
        "_id",
        *[F.when(F.col(OP_COL) == "-D", F.lit(None)).otherwise(F.col(c)).alias(c)
          for c in ("name", "qty")],
        OP_COL, SEQ_COL)
    got = changelog_normalize(df, ["_id"], SEQ_COL).collect()
    exp = _naive_normalize(
        [(e[0], "-D" if e[1] == "-D" else "+U", e[2], e[3]) for e in events])
    exp_set = {(k, op, img["name"], img["qty"],
                (bef or {}).get("qty"), seq) for k, op, img, bef, seq in exp}
    got_set = {(r["_id"], r[OP_COL], r["name"], r["qty"],
                r[BEFORE_COL]["qty"] if r[BEFORE_COL] is not None else None,
                r[SEQ_COL]) for r in got}
    assert got_set == exp_set


def test_changelog_normalize_restores_delete_image(spark):
    df = spark.createDataFrame(
        [(1, "a", 5, "+I", 0), (1, None, None, "-D", 1),
         (1, "b", 6, "+U", 2),  # re-insert after delete -> +I
         (2, None, None, "-D", 3)],  # delete of unseen key -> dropped
        f"_id LONG, name STRING, qty LONG, {OP_COL} STRING, {SEQ_COL} LONG")
    rows = {(r[SEQ_COL]): r for r in
            changelog_normalize(df, ["_id"], SEQ_COL).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[1][OP_COL] == "-D" and rows[1]["name"] == "a" \
        and rows[1]["qty"] == 5
    assert rows[2][OP_COL] == "+I"


def test_changelog_normalize_two_row_form(spark):
    df = spark.createDataFrame(
        [(1, "a", 5, "+U", 0), (1, "a", 9, "+U", 1)],
        f"_id LONG, name STRING, qty LONG, {OP_COL} STRING, {SEQ_COL} LONG")
    out = changelog_normalize(df, ["_id"], SEQ_COL, emit_update_before=True)
    rows = sorted(((r[SEQ_COL], r[OP_COL], r["qty"]) for r in out.collect()))
    assert rows == [(0, "+I", 5), (1, "+U", 9), (1, "-U", 5)]


def test_normalize_then_materialize_equals_direct(spark):
    rng = random.Random(13)
    recs = []
    for seq in range(300):
        key = rng.randrange(20)
        op = rng.choice(["+U", "+U", "-D"])
        recs.append((key, None if op == "-D" else rng.randrange(1000), op, seq))
    df = spark.createDataFrame(
        recs, f"_id LONG, qty LONG, {OP_COL} STRING, {SEQ_COL} LONG")
    direct = {(r["_id"], r["qty"]) for r in
              latest_image(df, ["_id"], SEQ_COL).collect()}
    via_norm = {(r["_id"], r["qty"]) for r in latest_image(
        changelog_normalize(df, ["_id"], SEQ_COL), ["_id"], SEQ_COL).collect()}
    assert via_norm == direct


def test_changelog_normalize_with_state_across_batches(spark):
    """Micro-batch form: normalizing batch N seeded with the materialized
    state after batch N-1 must emit the same retraction stream as
    normalizing the concatenated history in one pass."""
    rng = random.Random(99)
    hist = []
    for seq in range(240):
        key = rng.randrange(10)
        op = rng.choice(["+U", "+U", "-D"])
        hist.append((key, None if op == "-D" else rng.randrange(1000), op, seq))
    schema = f"_id LONG, qty LONG, {OP_COL} STRING, {SEQ_COL} LONG"
    whole = spark.createDataFrame(hist, schema)
    one_pass = {(r["_id"], r[OP_COL], r["qty"],
                 r[BEFORE_COL]["qty"] if r[BEFORE_COL] is not None else None,
                 r[SEQ_COL])
                for r in changelog_normalize(whole, ["_id"], SEQ_COL).collect()}

    got = set()
    state = None  # materialized table after prior batches
    for lo in range(0, 240, 80):
        batch = spark.createDataFrame(hist[lo:lo + 80], schema)
        norm = changelog_normalize(batch, ["_id"], SEQ_COL, state_df=state)
        got |= {(r["_id"], r[OP_COL], r["qty"],
                 r[BEFORE_COL]["qty"] if r[BEFORE_COL] is not None else None,
                 r[SEQ_COL]) for r in norm.collect()}
        upto = spark.createDataFrame(hist[:lo + 80], schema)
        state = latest_image(upto, ["_id"], SEQ_COL).select("_id", "qty")
    assert got == one_pass


def test_changelog_normalize_state_first_delete_carries_image(spark):
    state = spark.createDataFrame([(1, 10), (2, 20)], "_id LONG, qty LONG")
    batch = spark.createDataFrame(
        [(1, None, "-D", 5), (2, 21, "+U", 6), (3, 30, "+U", 7)],
        f"_id LONG, qty LONG, {OP_COL} STRING, {SEQ_COL} LONG")
    rows = {r["_id"]: r for r in changelog_normalize(
        batch, ["_id"], SEQ_COL, state_df=state).collect()}
    assert rows[1][OP_COL] == "-D" and rows[1]["qty"] == 10
    assert rows[2][OP_COL] == "+U" and rows[2][BEFORE_COL]["qty"] == 20
    assert rows[3][OP_COL] == "+I"
    assert set(rows) == {1, 2, 3}  # untouched state keys emit nothing


def test_yaml_mongodb_file_pipeline(spark, tmp_path):
    """End-to-end YAML surface: `type: mongodb-file` streams change-stream
    JSON through transform + route into the memory sink — upsert decode,
    key-only delete, replace — like the reference's MongoDB table source
    feeding a keyed sink."""
    import os

    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline,
    )
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    src = str(tmp_path / "cs")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            _ev("insert", doc={"_id": 1, "name": "bolt", "qty": 5}, ct=1),
            _ev("insert", doc={"_id": 2, "name": "nut", "qty": 6}, ct=2),
            _ev("replace", doc={"_id": 2, "name": "bignut", "qty": 7},
                key={"_id": 2}, ct=3),
            _ev("delete", key={"_id": 1}, ct=4),
            _ev("drop", ct=5),  # collection-level: ignored
        ]))
    yaml_text = f"""
source:
  type: mongodb-file
  path: {src}
  tables: '{{"shop.items": "_id BIGINT, name STRING, qty BIGINT"}}'
  primary-keys: '{{"shop.items": ["_id"]}}'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
transform:
  - source-table: shop.\\.*
    projection: "_id, UPPER(name) AS name_u, qty"
route:
  - source-table: shop.items
    sink-table: out.db.items
"""
    pdef = parse_yaml_pipeline(yaml_text)
    composer = PipelineComposer(spark)
    assert composer.is_streaming(pdef)
    sink = MemorySink()
    pipe, raw, tables = composer.compose_streaming(pdef, sink=sink)
    assert pipe.serialization == "mongodb-json"
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("out.db.items")) == ["2, BIGNUT, 7"]
    # the ChangeStreamOffset advanced to the last committed event: the
    # max clusterTime (shifted into BsonTimestamp scale) and its token
    off = pipe.binlog_offset()
    assert off is not None and off.timestamp == 5 << 32
    assert '"_data"' in off.resume_token_json


def test_yaml_mongodb_discover_tables(spark, tmp_path):
    """Review regression: `discover-tables: true` must read the
    change-stream envelope's ns.db/ns.coll (and infer from fullDocument) —
    the Debezium-only $.source.* probes silently discovered nothing and
    dropped every event of an undeclared collection."""
    import os

    from source_flink_cdc_3_5_0_spark.common.tableid import TableId
    from source_flink_cdc_3_5_0_spark.pipeline import (
        PipelineComposer, parse_yaml_pipeline,
    )
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink

    src = str(tmp_path / "cs")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            _ev("insert", doc={"_id": 1, "name": "bolt", "qty": 5}, ct=1),
            # undeclared collection, appears only in the stream
            _ev("insert", doc={"_id": 10, "label": "x"}, ct=2, coll="extra"),
            _ev("insert", doc={"_id": 11, "label": "y"}, ct=3, coll="extra"),
            _ev("delete", key={"_id": 10}, ct=4, coll="extra"),
        ]))
    yaml_text = f"""
source:
  type: mongodb-file
  path: {src}
  tables: '{{"shop.items": "_id BIGINT, name STRING, qty BIGINT"}}'
  primary-keys: '{{"shop.items": ["_id"]}}'
  discover-tables: 'true'
  checkpoint: {tmp_path}/ckpt
sink: {{type: values}}
"""
    sink = MemorySink()
    pipe, raw, tables = PipelineComposer(spark).compose_streaming(
        parse_yaml_pipeline(yaml_text), sink=sink)
    q = pipe.start(raw, tables)
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("shop.items")) == ["1, bolt, 5"]
    # discovered mid-stream: schema inferred from fullDocument, the
    # key-only delete then removes _id=10, leaving 11
    got = sink.snapshot(TableId.parse("shop.extra"))
    assert len(got) == 1 and got[0].startswith("11, ")


def test_bson_timestamp_cluster_time_orders_same_second(spark):
    """Review regression: real change streams ship clusterTime as a BSON
    Timestamp {"$timestamp":{"t":secs,"i":inc}}; seq must be its 64-bit
    form (t<<32 | i) so a delete + reinsert inside ONE second stays
    ordered — plain epoch-seconds tied them and latest_image's tie-break
    resolved to the delete, silently dropping the reinserted row."""
    import json as _json

    from source_flink_cdc_3_5_0_spark.sources.mongodb import (
        decode_mongo_changestream,
    )
    from source_flink_cdc_3_5_0_spark.streaming.materialize import latest_image

    payload = T.StructType([
        T.StructField("_id", T.LongType()), T.StructField("v", T.LongType())])

    def bson_ev(op, i, doc=None, key=None):
        e = {"_id": {"_data": f"r{i}"}, "operationType": op,
             "clusterTime": {"$timestamp": {"t": 100, "i": i}},
             "ns": {"db": "shop", "coll": "items"}}
        if doc is not None:
            e["fullDocument"] = doc
        if key is not None:
            e["documentKey"] = key
        return _json.dumps(e)

    raw = spark.createDataFrame([
        (bson_ev("insert", 1, doc={"_id": 7, "v": 1}),),
        (bson_ev("delete", 2, key={"_id": 7}),),
        (bson_ev("insert", 3, doc={"_id": 7, "v": 2}),),   # same second!
    ], "value STRING")
    env = decode_mongo_changestream(raw, payload)
    rows = {r[SEQ_COL]: r for r in env.collect()}
    # seq is the BSON Timestamp long: (100<<32) | i
    assert sorted(rows) == [(100 << 32) | 1, (100 << 32) | 2, (100 << 32) | 3]
    # ts_ms metadata still renders the epoch-seconds instant
    assert rows[(100 << 32) | 1]["__meta"]["ts_ms"] == "100000"
    final = latest_image(env, ["_id"], SEQ_COL).collect()
    assert [(r["_id"], r["v"]) for r in final] == [(7, 2)]  # reinsert wins

    # plain-integer clusterTime fixtures keep working (scaled, ordered)
    raw2 = spark.createDataFrame(
        [('{"_id":{"_data":"x"},"operationType":"insert",'
          '"clusterTime":5,"fullDocument":{"_id":1,"v":9},'
          '"ns":{"db":"d","coll":"c"}}',)], "value STRING")
    r2 = decode_mongo_changestream(raw2, payload).collect()[0]
    assert r2[SEQ_COL] == 5 << 32 and r2["__meta"]["ts_ms"] == "5000"


def test_discover_tables_delete_only_first_batch_defers(spark, tmp_path):
    """Review regression: a collection FIRST seen via deletes (no
    fullDocument to infer from) must defer discovery, not poison-pill the
    stream with an empty schema; a later batch with images discovers it."""
    import os

    from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.streaming.runner import (
        StreamingPipeline, file_stream_source,
    )

    schema = Schema.of(Column("_id", T.LongType(), False),
                       Column("name", T.StringType()),
                       Column("qty", T.LongType()),
                       primary_keys=["_id"])
    src = str(tmp_path / "cs")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            _ev("insert", doc={"_id": 1, "name": "bolt", "qty": 5}, ct=1),
            # undeclared collection, delete-only: no image to infer from
            _ev("delete", key={"_id": 99}, ct=2, coll="ghost"),
        ]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, str(tmp_path / "ckpt"),
                                    serialization="mongodb-json",
                                    discover_tables=True)
    q = pipe.start(file_stream_source(spark, src),
                   {"shop.items": schema})
    q.awaitTermination(120)
    assert sink.snapshot(TableId.parse("shop.items")) == ["1, bolt, 5"]
    assert TableId.parse("shop.ghost") not in sink.schemas  # deferred

    # next batch ships an image -> discovered now
    with open(os.path.join(src, "b.jsonl"), "w") as f:
        f.write(_ev("insert", doc={"_id": 100, "v": 3}, ct=3, coll="ghost"))
    q2 = pipe.start(file_stream_source(spark, src),
                    {"shop.items": schema})
    q2.awaitTermination(120)
    assert sink.row_count(TableId.parse("shop.ghost")) == 1


def test_discover_tables_degenerate_document_key_falls_back(spark, tmp_path):
    """Review regression: a hand-written fixture whose documentKey is a
    bare scalar (not the change-stream object form) must degrade to the
    `_id` PK fallback during discovery — not raise out of foreachBatch and
    kill the whole streaming query."""
    import os

    from source_flink_cdc_3_5_0_spark.common import Column, Schema, TableId
    from source_flink_cdc_3_5_0_spark.sinks.memory import MemorySink
    from source_flink_cdc_3_5_0_spark.streaming.runner import (
        StreamingPipeline, file_stream_source,
    )

    schema = Schema.of(Column("_id", T.LongType(), False),
                       Column("name", T.StringType()),
                       primary_keys=["_id"])
    src = str(tmp_path / "cs")
    os.makedirs(src)
    with open(os.path.join(src, "a.jsonl"), "w") as f:
        f.write("\n".join([
            _ev("insert", doc={"_id": 1, "name": "bolt"}, ct=1),
            # undeclared collection whose documentKey is a bare string
            _ev("insert", doc={"_id": 5, "v": 2}, key="not-an-object",
                ct=2, coll="weird"),
        ]))
    sink = MemorySink()
    pipe = StreamingPipeline.create(spark, sink, str(tmp_path / "ckpt"),
                                    serialization="mongodb-json",
                                    discover_tables=True)
    q = pipe.start(file_stream_source(spark, src), {"shop.items": schema})
    q.awaitTermination(120)
    weird = TableId.parse("shop.weird")
    assert sink.row_count(weird) == 1
    assert list(sink.schemas[weird].primary_keys) == ["_id"]  # fallback PK
