"""MongoDB change-stream codec.

Parity targets (reference `flink-cdc-connect/flink-cdc-source-connectors/
flink-connector-mongodb-cdc`):

- **Upsert changelog decode** — `MongoDBConnectorDeserializationSchema.java:
  125-170`: `insert` -> +I with ``fullDocument``; `delete` -> -D carrying only
  ``documentKey`` (MongoDB ships no deleted image); `update`/`replace` -> +U
  with ``fullDocument`` and NO before-image (``update`` whose post-lookup
  ``fullDocument`` is null — the document was deleted before the lookup — is
  dropped, reference comment at :148-152); collection-level events
  (`drop`/`rename`/`dropDatabase`/`invalidate`/`other`) are ignored. The
  result is an UPSERT changelog (no -U events) that downstream state needs to
  normalize — Flink plants a ChangelogNormalize; ours is
  `streaming.materialize.changelog_normalize`.
- **Full-changelog decode** — `MongoDBConnectorFullChangelogDeserializationSchema
  .java:60-130` (pre/post images enabled on MongoDB >= 6.0):
  ``fullDocumentBeforeChange`` supplies the -U/before image for update/replace
  and the carried image for deletes.
- **Envelope field names** — `internal/MongoDBEnvelope.java:47-85`
  (``_id._data`` resume token, ``clusterTime``, ``fullDocument``,
  ``documentKey``, ``operationType``, ``ns.db``/``ns.coll``).

Everything data-plane is built-in ``from_json`` + column expressions —
JVM-side, codegen'd; no Python in the decode loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..common.events import BEFORE_COL, META_COL, OP_COL
from .base import SEQ_COL

#: operationType -> engine op (MongoDBConnectorDeserializationSchema switch).
#: `update` with a null fullDocument and every collection-level type is
#: dropped by the decoder, so no entry here.
_MONGO_OPS = {"insert": "+I", "update": "+U", "replace": "+U", "delete": "-D"}


def mongo_changestream_schema(payload: T.StructType,
                              key_fields: tuple[str, ...] = ("_id",)
                              ) -> T.StructType:
    """Wire schema of one change-stream document (MongoDBEnvelope.java:47-85).

    ``documentKey`` carries only the shard-key/_id fields.  ``clusterTime``
    is NOT in the typed schema: real change streams ship it as a BSON
    Timestamp (extended JSON ``{"$timestamp": {"t": secs, "i": inc}}``)
    while simplified fixtures use plain epoch-seconds — a single from_json
    type can't hold both, so the decoder probes the raw string for either
    form (`_cluster_time_cols`).
    """
    key_struct = T.StructType(
        [f for f in payload.fields if f.name in key_fields])
    return T.StructType([
        T.StructField("_id", T.StructType(
            [T.StructField("_data", T.StringType(), True)]), True),
        T.StructField("operationType", T.StringType(), True),
        T.StructField("fullDocument", payload, True),
        T.StructField("fullDocumentBeforeChange", payload, True),
        T.StructField("documentKey", key_struct, True),
        T.StructField("ns", T.StructType([
            T.StructField("db", T.StringType(), True),
            T.StructField("coll", T.StringType(), True),
        ]), True),
    ])


def _cluster_time_cols(value: Column) -> tuple[Column, Column]:
    """(epoch-seconds, BSON-Timestamp-long) from the raw document string.

    Accepts BOTH wire forms: extended-JSON ``{"$timestamp":{"t":s,"i":n}}``
    (what real change streams ship) and a bare epoch-seconds integer
    (simplified fixtures).  The long form is ``(t << 32) | i`` — BSON
    Timestamp's own 64-bit ordering, which keeps same-second events on one
    document totally ordered by the server-assigned increment; a bare
    seconds value shifts into the same scale with i = 0.

    One full-document parse extracts the raw ``clusterTime`` snippet; the
    t/i probes then parse only that snippet (vs three full-doc parses)."""
    raw = F.get_json_object(value, "$.clusterTime")
    t = F.get_json_object(raw, "$['$timestamp'].t").cast("long")
    i = F.get_json_object(raw, "$['$timestamp'].i").cast("long")
    secs = F.coalesce(t, raw.cast("long"))
    return secs, (F.shiftleft(secs, 32)
                  + F.coalesce(i, F.lit(0)).cast("long"))


def decode_mongo_changestream(raw: DataFrame, payload_schema: T.StructType,
                              key_fields: tuple[str, ...] = ("_id",),
                              full_changelog: bool = False,
                              value_col: str = "value") -> DataFrame:
    """Change-stream JSON -> engine changelog envelope.

    Upsert mode (default, reference's changelog-mode `upsert`): deletes carry
    the ``documentKey`` fields with every other column null — exactly what
    MongoDB ships — and updates have no before-image. Run the result through
    `changelog_normalize` before any consumer that needs retractions or full
    delete images (sink merges, `incremental_agg` with before-values).

    ``full_changelog=True`` (collections with pre/post images, MongoDB 6.0+)
    additionally reads ``fullDocumentBeforeChange``: +U rows gain a
    ``__before`` struct and -D rows carry the full deleted image when the
    before image is present (reference FullChangelog variant).

    Seq: the Kafka/file ``offset`` column when present, else the BSON
    Timestamp long ``(t << 32) | i`` (ResumeTokenUtils.decodeTimestamp
    parity; the increment keeps same-second events on one document totally
    ordered — plain epoch-seconds would tie a delete with a reinsert in the
    same second and lose the reinsert to `latest_image`'s tie-break).
    """
    env = mongo_changestream_schema(payload_schema, key_fields)
    has_offset = "offset" in raw.columns
    val = F.col(value_col).cast("string")
    ct_secs, ct_long = _cluster_time_cols(val)
    parsed = raw.select(
        F.from_json(val, env).alias("v"),
        ct_secs.alias("__ct_secs"), ct_long.alias("__ct_long"),
        # parse ONCE (optimization r11): the non-deterministic barrier,
        # referenced by the keep-filter below, stops PushDownPredicates
        # from substituting from_json(...) into the filter under this
        # projection — without it every row paid the envelope parse twice
        # (once in the pushed filter, once here); see db2.py.
        F.spark_partition_id().alias("__pushdown_barrier"),
        *([F.col("offset")] if has_offset else []),
    )
    otype = F.col("v.operationType")
    keep = otype.isin(*_MONGO_OPS)
    # reference :148-152 — update whose post-lookup fullDocument vanished
    keep = keep & ~((otype == "update") & F.col("v.fullDocument").isNull())
    # always-false disjunct: keeps the predicate semantics, blocks pushdown
    parsed = parsed.where(keep | (F.col("__pushdown_barrier") < F.lit(-1)))

    op = F.coalesce(
        *[F.when(otype == k, F.lit(v)) for k, v in _MONGO_OPS.items()])
    # delete image: documentKey null-filled into the payload shape — unless
    # full-changelog mode has the real before image
    key_image = F.struct(*[
        F.col(f"v.documentKey.{f.name}").alias(f.name)
        if f.name in key_fields else
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in payload_schema.fields])
    del_image = key_image
    if full_changelog:
        del_image = F.coalesce(F.col("v.fullDocumentBeforeChange"), key_image)
    image = F.when(otype == "delete", del_image).otherwise(F.col("v.fullDocument"))
    before = (
        F.when((op == "+U") & F.col("v.fullDocumentBeforeChange").isNotNull(),
               F.col("v.fullDocumentBeforeChange"))
        if full_changelog else F.lit(None).cast(payload_schema))
    seq = F.col("offset") if has_offset else F.col("__ct_long")
    out = parsed.select(
        image.alias("__row"),
        op.alias(OP_COL),
        before.alias(BEFORE_COL),
        F.map_from_arrays(
            F.array(F.lit("db"), F.lit("coll"), F.lit("ts_ms"),
                    F.lit("resume_token")),
            F.array(F.col("v.ns.db"), F.col("v.ns.coll"),
                    (F.col("__ct_secs") * 1000).cast("string"),
                    F.col("v._id._data")),
        ).alias(META_COL),
        seq.cast("bigint").alias(SEQ_COL),
    )
    return out.select("__row.*", OP_COL, BEFORE_COL, META_COL, SEQ_COL)


# ---------------------------------------------------------------------------
# ChangeStreamOffset (source/offset/ChangeStreamOffset.java parity)
# ---------------------------------------------------------------------------


class ChangeStreamOffset:
    """`ChangeStreamOffset.java` parity: offset map {timestamp,
    resumeToken}, ordered by the BsonTimestamp; NO_STOPPING carries the
    maximum timestamp."""

    _MAX_TS = ((1 << 32) - 1) << 32 | ((1 << 32) - 1)

    def __init__(self, timestamp: int, resume_token_json: str | None = None):
        self.timestamp = timestamp
        self.resume_token_json = resume_token_json

    @classmethod
    def no_stopping(cls) -> "ChangeStreamOffset":
        return cls(cls._MAX_TS)

    def offset_map(self) -> dict:
        return {"timestamp": str(self.timestamp),
                "resumeToken": self.resume_token_json}

    def to_json(self) -> str:
        import json

        return json.dumps(self.offset_map(), separators=(",", ":"))

    @classmethod
    def from_json(cls, s: str) -> "ChangeStreamOffset":
        import json

        d = json.loads(s)
        return cls(int(d["timestamp"]), d.get("resumeToken"))

    def compare(self, that: "ChangeStreamOffset") -> int:
        return (self.timestamp > that.timestamp) \
            - (self.timestamp < that.timestamp)

    def __eq__(self, other) -> bool:
        return isinstance(other, ChangeStreamOffset) \
            and self.offset_map() == other.offset_map()
