"""Per-layer tracing from the benchmark's own files.

Two halves:

* ``Tracer`` wraps the engine's public functions at the names where the
  engine looks them up (``runner.decode_debezium``,
  ``composer.coercion_select`` ...). Each wrapper times the driver-side
  call and sets the Spark job group ``perfbench:<layer>`` for its span, so
  every job the call launches carries the layer in the event log.
* ``attribute`` reads a Spark event log and sums executor CPU, task time,
  GC, shuffle writes, jobs, stages and tasks per layer. Jobs that run under
  a streaming query's own job group (its run id) belong to ``streaming``;
  anything else is ``unattributed``.

Executor work is attributed to the layer whose call triggered the Spark
action; lazily built plans (decode, transform, coercion) therefore show
their executor cost under the layer that ran the action, usually
``sinks`` or ``streaming``, and only their driver-side time under their
own name.
"""

from __future__ import annotations

import contextlib
import json
import time

LAYERS = ("sources", "streaming", "operators", "pipeline", "sinks",
          "extensions", "unattributed")
GROUP_PREFIX = "perfbench:"
_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


class Tracer:
    """Span timings and counters, kept in memory until the run ends."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.ms: dict[str, float] = {}
        self.counts: dict[str, int] = {}

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextlib.contextmanager
    def span(self, layer: str, metric: str):
        """Time ``metric`` and tag Spark jobs launched inside with
        ``layer``; the caller's job group is restored afterwards (a
        streaming query's thread carries its own)."""
        if not self.enabled:
            yield
            return
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(GROUP_PREFIX + layer, metric)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.ms[metric] = self.ms.get(metric, 0.0) + \
                (time.perf_counter() - t0) * 1000.0
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)


def _timed(tracer: Tracer, layer: str, metric: str, calls: str | None, fn):
    def wrapper(*args, **kwargs):
        if calls:
            tracer.count(calls)
        with tracer.span(layer, metric):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


def _counted(tracer: Tracer, metric: str, fn, weigh=None):
    def wrapper(*args, **kwargs):
        tracer.count(metric, weigh(*args) if weigh else 1)
        return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


@contextlib.contextmanager
def patched(tracer: Tracer):
    """Install the layer wrappers for the duration of the block."""
    from source_flink_cdc_3_5_0_spark.operators.route import TableIdRouter
    from source_flink_cdc_3_5_0_spark.operators.schema_registry import (
        SchemaRegistry)
    from source_flink_cdc_3_5_0_spark.operators.transform import PostTransform
    from source_flink_cdc_3_5_0_spark.pipeline import composer
    from source_flink_cdc_3_5_0_spark.sinks import lakehouse
    from source_flink_cdc_3_5_0_spark.streaming import runner

    SP, PE = runner.StreamingPipeline, composer.PipelineExecution
    plain = [
        # (owner, attribute, layer, metric, call counter)
        (runner, "decode_debezium", "sources", "sources.decode_driver_ms",
         "sources.decode_calls"),
        (SP, "register_table", "streaming", "streaming.register_ms", None),
        (composer.PipelineComposer, "compose_streaming", "pipeline",
         "pipeline.compose_ms", None),
        (PostTransform, "apply", "operators", "operators.transform_ms", None),
        (composer, "coercion_select", "operators", "operators.coerce_ms",
         None),
        (composer, "pk_repartition", "operators", "operators.partition_ms",
         None),
        (SchemaRegistry, "checkpoint", "operators",
         "operators.registry_ckpt_ms", None),
        (lakehouse.SnapshotLakeSink, "write", "sinks", "sinks.write_ms",
         "sinks.write_calls"),
        (lakehouse._LakeMetadataApplier, "apply_schema_change", "sinks",
         "sinks.ddl_ms", "sinks.ddl_calls"),
    ]
    static = [
        (SP, "enrich_batch", "streaming", "streaming.enrich_driver_ms"),
        (SchemaRegistry, "restore", "operators",
         "operators.registry_restore_ms"),
    ]
    saved = []
    try:
        for owner, attr, layer, metric, calls in plain:
            saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr,
                    _timed(tracer, layer, metric, calls, getattr(owner, attr)))
        for owner, attr, layer, metric in static:
            saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, staticmethod(
                _timed(tracer, layer, metric, None, getattr(owner, attr))))
        saved.append((TableIdRouter, "route", TableIdRouter.__dict__["route"]))
        TableIdRouter.route = _counted(tracer, "operators.route_calls",
                                       TableIdRouter.route)
        saved.append((PE, "_handle_schema_events",
                      PE.__dict__["_handle_schema_events"]))
        PE._handle_schema_events = _counted(
            tracer, "operators.schema_events", PE._handle_schema_events,
            weigh=lambda _self, batch: len(batch.schema_events))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


# -- event-log attribution ----------------------------------------------------

def layer_of(group: str | None, stream_run_ids: set[str]) -> str:
    if group and group.startswith(GROUP_PREFIX):
        layer = group[len(GROUP_PREFIX):]
        return layer if layer in LAYERS else "unattributed"
    if group and group in stream_run_ids:
        return "streaming"
    return "unattributed"


def attribute(lines, stream_run_ids: set[str],
              windows: list[tuple[int, int]]) -> dict[str, dict[str, float]]:
    """Per-layer executor totals from Spark event-log JSON lines, counting
    only jobs submitted inside one of the ``windows`` (epoch ms, inclusive)
    and the stages and tasks they ran."""
    out = {layer: {"executor_cpu_ms": 0.0, "task_ms": 0.0, "gc_ms": 0.0,
                   "shuffle_write_bytes": 0.0, "jobs": 0, "stages": 0,
                   "tasks": 0} for layer in LAYERS}
    stage_layer: dict[int, str] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            if not any(lo <= t <= hi for lo, hi in windows):
                continue
            props = ev.get("Properties") or {}
            layer = layer_of(props.get("spark.jobGroup.id"), stream_run_ids)
            out[layer]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_layer:
                out[stage_layer[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            if layer is None:
                continue
            m = ev.get("Task Metrics") or {}
            row = out[layer]
            row["tasks"] += 1
            row["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            row["task_ms"] += m.get("Executor Run Time", 0)
            row["gc_ms"] += m.get("JVM GC Time", 0)
            row["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
    return out


def read_event_log(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield line
