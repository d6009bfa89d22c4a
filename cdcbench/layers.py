"""Per-layer metrics of the traced run.

Everything here is measured from outside the program: spans around the
sink's calls, the micro-batch progress Spark reports, prefix runs of the
path into a noop sink, and a batch decode of the same records held in
memory. Names are ``<layer>.<metric>`` with the package's module names as
layers (see README.md for which end-to-end metric each should move).
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import DataFrame

from flink_dts_connector_spark.formats.jvmheader import prefilter
from flink_dts_connector_spark.formats.typed import project_table

import gen
import pipeline as pl
from spans import Tracer

_DURATIONS = {
    "sources.latest_offset_ms": "latestOffset",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.query_planning_ms": "queryPlanning",
}


#: how far trace.layer_sum_s may stray from trace.full_drain_s, as a share
#: of the latter, before the traced run's cross-check fails; the layer sum
#: leaves out the sink's caching and bookkeeping jobs (README.md)
LAYER_SUM_TOLERANCE = 0.30


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _prefix_runs(spark, wl: pl.Workload, broker_dir: str, truth: gen.Truth, work: str, tracer: Tracer):
    """Mean walls of four drains, each a longer prefix of the path into a noop
    sink: fetch, + JVM prefilter, + the workload's decode, + projection.
    Every prefix drain pays the same query start, so it cancels out of the
    differences."""

    def fetch(raw: DataFrame) -> DataFrame:
        return raw

    def filtered(raw: DataFrame) -> DataFrame:
        return prefilter(raw, tables=[gen.SELECTED])

    def decoded(raw: DataFrame) -> DataFrame:
        return wl.decode(raw)

    def projected(raw: DataFrame) -> DataFrame:
        return project_table(wl.decode(raw), pl.SCHEMA, table=gen.SELECTED)

    walls: dict[str, list[float]] = {}
    # two rounds, averaged: a single prefix drain is noisy, and a best-of
    # would bias the layer sum low against the full drains' median
    for rnd in range(2):
        for name, build in (("fetch", fetch), ("prefilter", filtered), ("decode", decoded),
                            ("project", projected)):
            with tracer.span(f"prefix.{name}"):
                wall = pl.prefix_drain(spark, broker_dir, truth, work, f"p-{name}{rnd}", build)
            walls.setdefault(name, []).append(wall)
    return {name: statistics.mean(ws) for name, ws in walls.items()}


def _batch_decode(spark, wl: pl.Workload, broker_dir: str, truth: gen.Truth, tracer: Tracer):
    """(decode records/s, prefilter keep ratio) over the topic's records
    read once into memory as a batch frame, so no fetch is timed."""
    raw = (
        spark.read.parquet(os.path.join(broker_dir, "log"))
        .selectExpr("value", "partition", "offset")
        .persist()
    )
    try:
        raw.count()
        kept = prefilter(raw, tables=[gen.SELECTED]).count()
        best = None
        for _ in range(2):  # the first pass starts the decode workers
            with tracer.span("batch.decode"):
                t0 = time.perf_counter()
                wl.decode(raw).write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
            best = el if best is None else min(best, el)
    finally:
        raw.unpersist()
    return truth.records / best, kept / truth.records


def per_layer(spark, wl: pl.Workload, broker_dir: str, truth: gen.Truth, work: str, win,
              tracer: Tracer, warmup_s: float) -> dict:
    traced = [r for r in win.results if r.traced]
    plain = [r for r in win.results if not r.traced]
    n = max(1, len(traced))
    sink = {name: tracer.total(name) / n for name in
            ("sink.upsert", "sink.signed_agg", "sink.tracker")}
    progress = [p for r in traced for p in r.progress]
    walls = _prefix_runs(spark, wl, broker_dir, truth, work, tracer)
    decode_rec_s, keep_ratio = _batch_decode(spark, wl, broker_dir, truth, tracer)

    m: dict[str, dict] = {}

    def put(name: str, value: float, unit: str) -> None:
        m[name] = {"value": float(value), "unit": unit}

    decode_base = walls["prefilter"] if wl.prefiltered else walls["fetch"]
    put("sources.fetch_s", walls["fetch"], "s")
    for name, key in _DURATIONS.items():
        put(name, sum(p["durationMs"].get(key, 0) for p in progress) / n, "ms")
    put("sources.wire_bytes", truth.wire_bytes, "bytes")
    put("formats.prefilter_s", walls["prefilter"] - walls["fetch"], "s")
    put("formats.prefilter_keep_ratio", keep_ratio, "ratio")
    put("formats.decode_s", walls["decode"] - decode_base, "s")
    put("formats.decode_rec_s", decode_rec_s, "records/s")
    put("formats.project_s", walls["project"] - walls["decode"], "s")
    put("formats.changelog_rows", truth.changelog_rows, "count")
    put("operators.upsert_s", sink["sink.upsert"], "s")
    put("operators.signed_agg_s", sink["sink.signed_agg"], "s")
    put("streaming.tracker_save_ms", sink["sink.tracker"] * 1000.0, "ms")
    put("streaming.query_start_s", _mean(r.first_batch_s for r in traced), "s")
    put("streaming.warmup_s", warmup_s, "s")

    # two totals reached apart: the path's layers added up, and a full drain
    layer_sum = walls["project"] + m["operators.upsert_s"]["value"] + \
        m["operators.signed_agg_s"]["value"] + sink["sink.tracker"]
    full = statistics.median(r.wall_s for r in plain) if plain else 0.0
    put("trace.layer_sum_s", layer_sum, "s")
    put("trace.full_drain_s", full, "s")
    put("trace.layer_sum_ratio", layer_sum / full if full else 0.0, "ratio")
    rate = lambda rs: sum(r.records for r in rs) / sum(r.wall_s for r in rs) if rs else 0.0  # noqa: E731
    on, off = rate(traced), rate(plain)
    put("trace.overhead_pct", (off - on) / off * 100.0 if off else 0.0, "%")
    return m


def cross_check(m: dict) -> list[str]:
    """The traced run's one check: the layer sum and the separate full
    drain agree within LAYER_SUM_TOLERANCE."""
    full, ratio = m["trace.full_drain_s"]["value"], m["trace.layer_sum_ratio"]["value"]
    if not full:
        return ["cross-check: no untraced full drain to compare the layer sum with"]
    if abs(1.0 - ratio) > LAYER_SUM_TOLERANCE:
        return [f"cross-check: layer sum {m['trace.layer_sum_s']['value']:.2f} s is {ratio:.2f} "
                f"of the full drain {full:.2f} s, outside 1 +/- {LAYER_SUM_TOLERANCE}"]
    return []
