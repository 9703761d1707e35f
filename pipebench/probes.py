"""Per-layer measurements for the traced run.

Stage self times come from materializing plan prefixes (scan,
+repartition, +parse, +enrich, +route, +sort) through the ``noop``
sink and subtracting each prefix's time from the next.  Write and
aggregate are timed over a persisted routed frame.  The prefixes are
composed from the layers' public functions in the order
``job.build_pipeline`` composes them, and checked against its plan.
"""

from __future__ import annotations

import os
import re
import shutil
import time

import stats
from layertrace import span

STAGES = ["scan", "repartition", "parse", "enrich", "route", "order"]
# Self-time metric name per stage (job.py owns the repartition).
STAGE_METRICS = {
    "scan": "scan.self_s",
    "repartition": "job.repartition_s",
    "parse": "parse.self_s",
    "enrich": "enrich.self_s",
    "route": "route.self_s",
    "order": "order.self_s",
}
# Printed on the traced run's summary line but kept out of its metrics:
# synth only emits roles and tools the enrich dims know, so these are 0
# on every input the benchmark makes.
ANNOTATIONS = ("enrich.miss.role", "enrich.miss.tool")
REPS = 3
SMALL_ROWS = 1_000
STREAM_DURATIONS = {
    "addBatch": "stream.add_batch_s.p50",
    "queryPlanning": "stream.query_planning_s.p50",
    "walCommit": "stream.wal_commit_s.p50",
    "getBatch": "stream.get_batch_s.p50",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_median(tracer, name: str, fn, reps: int = REPS) -> float:
    samples = []
    for _ in range(reps):
        with span(tracer, name):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
    return stats.median(samples)


def _plan(df) -> str:
    """The optimized logical plan, with expression ids blanked so two
    separately built copies of one plan compare equal."""
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def prefixes(df) -> dict:
    from pyspark.sql import functions as F

    from sparkcollector.enrich import enrich_turns
    from sparkcollector.parse import parse_turns
    from sparkcollector.route import route

    rep = df.repartition(F.col("conv_id"))
    parsed = parse_turns(rep)
    enriched = enrich_turns(parsed)
    routed = route(enriched)
    ordered = routed.sortWithinPartitions("sink", "conv_id", "turn_idx")
    return dict(zip(STAGES, [df, rep, parsed, enriched, routed, ordered]))


def stage_metrics(spark, tracer, path: str, scratch: str) -> dict:
    """Self time of every stage, write and aggregate, the enrich fixed
    cost, and the parse/enrich counts, all on the parquet at ``path``."""
    from pyspark.sql import functions as F

    from sparkcollector import job
    from sparkcollector.aggregate import count_connector
    from sparkcollector.enrich import enrich_turns

    out: dict = {}
    df = spark.read.parquet(path)
    plans = prefixes(df)
    # The prefixes copy job.build_pipeline by hand; refuse to time them
    # once the program's plan has moved away from the copy.
    program = job.build_pipeline(df, sort_prefix=("sink",))
    if _plan(plans["order"]) != _plan(program):
        raise RuntimeError(
            "stage probes no longer match job.build_pipeline:\n"
            f"probes:\n{_plan(plans['order'])}\nprogram:\n{_plan(program)}"
        )
    samples = {s: [] for s in STAGES}
    with span(tracer, "probe.prefixes"):
        for _ in range(REPS):  # interleaved, so drift hits every stage alike
            for s in STAGES:
                with span(tracer, f"probe.{s}"):
                    t0 = time.perf_counter()
                    _noop(plans[s])
                    samples[s].append(time.perf_counter() - t0)
    selfs = stats.prefix_self_times(
        {s: stats.median(v) for s, v in samples.items()}, STAGES
    )
    out.update({STAGE_METRICS[s]: v for s, v in selfs.items()})

    routed = plans["order"].persist()
    try:
        _noop(routed)

        def write():
            d = os.path.join(scratch, "probe-write")
            shutil.rmtree(d, ignore_errors=True)
            routed.write.partitionBy("sink").parquet(d)

        out["write.self_s"] = _timed_median(tracer, "probe.write", write)
        counts = count_connector(routed)
        out["aggregate.self_s"] = _timed_median(
            tracer, "probe.aggregate", lambda: _noop(counts)
        )
        out["aggregate.groups"] = counts.count()
        row = routed.agg(
            F.count("severity").alias("severity"),
            F.count("tool_name").alias("call"),
            F.count("span_id").alias("span"),
            F.count("log_ts").alias("log_ts"),
            F.count_if(F.col("actor_kind").isNull()).alias("role"),
            F.count_if(F.col("tool_category").isNull()).alias("tool"),
        ).first()
        for k in ("severity", "call", "span", "log_ts"):
            out[f"parse.hits.{k}"] = row[k]
        for k in ("role", "tool"):
            out[f"enrich.miss.{k}"] = row[k]
    finally:
        routed.unpersist()

    small = spark.read.parquet(path).limit(SMALL_ROWS).persist()
    try:
        _noop(small)
        out["enrich.fixed_s"] = _timed_median(
            tracer, "probe.enrich_fixed", lambda: _noop(enrich_turns(small))
        )
    finally:
        small.unpersist()
    return out


def stream_metrics(progress: list) -> dict:
    """Epochs of one drain and the p50 of its micro-batch phase
    durations (``StreamingQueryProgress.durationMs``)."""
    batches = [p for p in progress if p.numInputRows > 0]
    out = {"stream.epochs": len(batches)}
    out.update({
        m: stats.median([p.durationMs.get(k, 0) / 1000.0 for p in batches])
        for k, m in STREAM_DURATIONS.items()
    })
    return out


def span_metrics(spans: list[dict], ops: set[int]) -> dict:
    """Catalog-layer figures per timed op (median over ops) and the
    share of op time the layer spans cover."""
    spans = [s for s in spans if s["op"] in ops]
    selfs = stats.self_times(spans)
    per_op = {i: dict.fromkeys(
        ("scan", "append", "read_since", "entries"), 0.0) for i in ops}
    files = []
    for s in spans:
        acc = per_op[s["op"]]
        if s["name"] == "catalog.scan":
            acc["scan"] += s["end"] - s["start"]
            acc["entries"] += s["entries"]
        elif s["name"] == "catalog.append":
            acc["append"] += selfs[s["id"]]
            files.append(s["files"])
        elif s["name"] == "catalog.read_since":
            acc["read_since"] += selfs[s["id"]]

    def med(key):
        return stats.median([acc[key] for acc in per_op.values()])

    return {
        "catalog.scan_s": med("scan"),
        "catalog.append_s": med("append"),
        "catalog.read_since_s": med("read_since"),
        "catalog.log_entries": med("entries"),
        "catalog.files_per_commit": sum(files) / len(files),
        "span.coverage": stats.coverage(spans, "op"),
    }


def unit(metric: str) -> str:
    if metric.endswith(("_s", "_s.p50")):
        return "s"
    if metric == "shuffle.bytes_written":
        return "bytes"
    if metric == "span.coverage":
        return "share"
    return "count"
