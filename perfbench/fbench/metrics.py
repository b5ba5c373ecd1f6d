"""Metric definitions and their computation from one run's records.

`E2E` is printed by the untraced run, `PER_LAYER` by the traced run;
BENCHMARK.json lists the same names and units (the self-test checks
they agree). Every metric is printed on every workload; a layer a
workload does not exercise reads 0.
"""

from __future__ import annotations

import statistics

import numpy as np

from fbench.tracer import self_times

E2E = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("op_p90_ms", "ms", "lower"),
    ("visible_p50_ms", "ms", "lower"),
    ("visible_p90_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("write_amp", "bytes/byte", "lower"),
    ("space_amp", "bytes/byte", "lower"),
    ("peak_rss_mb", "MiB", "lower"),
]

# layers whose self time and call count are reported per traced op
SELF_LAYERS = [
    "client.lookup", "kv.upsert", "kv.lookup", "log.scan",
    "log.latest_offsets", "catalog.current_commit", "catalog.commit",
    "reader.poll", "reader.commit_batch", "result.collect",
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.warm_s", "s", "lower"),
    *[(f"{n}.self_pct", "%", "lower") for n in SELF_LAYERS],
    *[(f"{n}.calls", "1/op", "lower") for n in SELF_LAYERS],
    ("kv.upsert.jobs", "1/op", "lower"),
    ("kv.upsert.tasks", "1/op", "lower"),
    ("kv.upsert.driver_gap_pct", "%", "lower"),
    ("kv.upsert.shuffle_bytes", "bytes/op", "lower"),
    ("kv.upsert.bytes_written", "bytes/op", "lower"),
    ("kv.lookup.jobs", "1/op", "lower"),
    ("kv.lookup.tasks", "1/op", "lower"),
    ("kv.manifest_dirs", "count", "lower"),
    ("log.commit_dirs", "count", "lower"),
    ("catalog.versions", "1/commit", "lower"),
    ("maintenance.compactions", "1/commit", "lower"),
    ("maintenance.compact_pct", "%", "lower"),
    ("maintenance.jobs", "1/op", "lower"),
    ("maintenance.bytes_rewritten", "bytes/commit", "lower"),
    ("reader.batch_rows", "rows", "higher"),
    ("reader.lag_rows", "rows", "lower"),
    ("reader.empty_poll_frac", "ratio", "lower"),
    ("result.collect.jobs", "1/op", "lower"),
    ("result.collect.tasks", "1/op", "lower"),
    ("result.collect.input_bytes", "bytes/op", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "1/op", "lower"),
    ("spark.tasks", "1/op", "lower"),
    ("spark.run_ms", "ms/op", "lower"),
    ("spark.cpu_ms", "ms/op", "lower"),
    ("spark.driver_gap_pct", "%", "lower"),
    ("spark.incomplete_stages", "1/op", "lower"),
    ("storage.bytes_written", "bytes/commit", "lower"),
    ("storage.files_written", "1/commit", "lower"),
    ("trace.spans", "1/op", "lower"),
    ("ops.samples", "count", "higher"),
    ("overhead.op_p50_ms", "ms", "lower"),
    ("overhead.op_p90_ms", "ms", "lower"),
    ("overhead.visible_p50_ms", "ms", "lower"),
    ("overhead.visible_p90_ms", "ms", "lower"),
    ("overhead.ops_per_s", "1/s", "higher"),
    ("trace.peak_rss_mb", "MiB", "lower"),
]


def pct(values, q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def end_to_end(rec, setup_s: float, window_s: float, peak_rss_mb: float) -> dict[str, float]:
    op = [ms for ms, _ in rec.op_ms]
    vis = [ms for ms, _ in rec.visible_ms]
    return {
        "setup_s": setup_s,
        "op_p50_ms": pct(op, 50),
        "op_p90_ms": pct(op, 90),
        "visible_p50_ms": pct(vis, 50),
        "visible_p90_ms": pct(vis, 90),
        "ops_per_s": rec.ops / window_s,
        "write_amp": _div(rec.space[-1]["bytes_written"], rec.user_bytes) if rec.space else 0.0,
        "space_amp": statistics.median(
            _div(s["store_bytes"], s["live_bytes"]) for s in rec.space
        ) if rec.space else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }


def _overhead(samples, q: float) -> float:
    on = [ms for ms, traced in samples if traced]
    off = [ms for ms, traced in samples if not traced]
    return pct(on, q) - pct(off, q) if on and off else 0.0


def _rate_overhead(samples) -> float:
    """Ops per second of the traced ops minus that of the untraced ops,
    each from the ops' own wall times."""
    on = [ms for ms, traced in samples if traced]
    off = [ms for ms, traced in samples if not traced]
    return 1e3 * (_div(len(on), sum(on)) - _div(len(off), sum(off))) if on and off else 0.0


def per_layer(rec, spans, start_s: float, warm_s: float, peak_rss_mb: float) -> dict[str, float]:
    """Per-layer figures from the traced ops' spans plus the storage and
    reader records of the whole run."""
    selfs = self_times(spans)
    roots = [s for s in spans if s.parent is None]
    ops = len(roots)
    wall = sum(s.end - s.start for s in roots)
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def spark_sum(names, key):
        return sum(s.spark.get(key, 0) for n in names for s in by_name.get(n, []))

    out = {"session.start_s": start_s, "session.warm_s": warm_s}
    for n in SELF_LAYERS:
        out[f"{n}.self_pct"] = 100 * _div(sum(selfs[s.sid] for s in by_name.get(n, [])), wall)
        out[f"{n}.calls"] = _div(len(by_name.get(n, [])), ops)
    kv_self = sum(selfs[s.sid] for s in by_name.get("kv.upsert", [])) * 1e3
    out.update({
        "kv.upsert.jobs": _div(spark_sum(["kv.upsert"], "jobs"), ops),
        "kv.upsert.tasks": _div(spark_sum(["kv.upsert"], "tasks"), ops),
        "kv.upsert.driver_gap_pct": 100 * _div(kv_self - spark_sum(["kv.upsert"], "stage_wall_ms"), kv_self),
        "kv.upsert.shuffle_bytes": _div(spark_sum(["kv.upsert"], "shuffle_bytes"), ops),
        "kv.upsert.bytes_written": _div(spark_sum(["kv.upsert"], "output_bytes"), ops),
        "kv.lookup.jobs": _div(spark_sum(["kv.lookup"], "jobs"), ops),
        "kv.lookup.tasks": _div(spark_sum(["kv.lookup"], "tasks"), ops),
        "kv.manifest_dirs": _div(sum(s["manifest_dirs"] for s in rec.space), len(rec.space)),
        "log.commit_dirs": _div(sum(s["log_dirs"] for s in rec.space), len(rec.space)),
        "catalog.versions": _div(rec.versions, rec.commits),
        "maintenance.compactions": _div(rec.compactions, rec.commits),
        "maintenance.compact_pct": 100 * _div(_maintenance_s(spans, by_name), wall),
        "maintenance.jobs": _div(spark_sum(["table.upsert"], "jobs"), ops),
        "maintenance.bytes_rewritten": _div(rec.rewritten_bytes, rec.commits),
        "reader.batch_rows": _div(sum(rec.batch_rows), len(rec.batch_rows)),
        "reader.lag_rows": _div(sum(rec.lag_rows), len(rec.lag_rows)),
        "reader.empty_poll_frac": _div(rec.empty_polls, rec.polls),
        "result.collect.jobs": _div(spark_sum(["result.collect"], "jobs"), ops),
        "result.collect.tasks": _div(spark_sum(["result.collect"], "tasks"), ops),
        "result.collect.input_bytes": _div(spark_sum(["result.collect"], "input_bytes"), ops),
    })
    for i, phase in enumerate(("analysis", "optimization", "planning")):
        out[f"catalyst.{phase}_ms"] = _div(sum(c[i] for c in rec.catalyst), len(rec.catalyst))
    every = list(by_name)
    out.update({
        "spark.jobs": _div(spark_sum(every, "jobs"), ops),
        "spark.tasks": _div(spark_sum(every, "tasks"), ops),
        "spark.run_ms": _div(spark_sum(every, "run_ms"), ops),
        "spark.cpu_ms": _div(spark_sum(every, "cpu_ms"), ops),
        "spark.driver_gap_pct": 100 * _div(wall * 1e3 - spark_sum(every, "stage_wall_ms"), wall * 1e3),
        "spark.incomplete_stages": _div(spark_sum(every, "incomplete_stages"), ops),
        "storage.bytes_written": _div(rec.space[-1]["bytes_written"], rec.commits) if rec.space else 0.0,
        "storage.files_written": _div(rec.space[-1]["files_written"], rec.commits) if rec.space else 0.0,
        "trace.spans": _div(len(spans), ops),
        "ops.samples": float(len(rec.op_ms)),
        "overhead.op_p50_ms": _overhead(rec.op_ms, 50),
        "overhead.op_p90_ms": _overhead(rec.op_ms, 90),
        "overhead.visible_p50_ms": _overhead(rec.visible_ms, 50),
        "overhead.visible_p90_ms": _overhead(rec.visible_ms, 90),
        "overhead.ops_per_s": _rate_overhead(rec.cycle_ms),
        "trace.peak_rss_mb": peak_rss_mb,
    })
    return out


def _maintenance_s(spans, by_name) -> float:
    """Time in table.upsert outside its kv.upsert child: auto
    compaction, retention and the table lock."""
    inner = {}
    for s in spans:
        if s.name == "kv.upsert" and s.parent is not None:
            inner[s.parent] = inner.get(s.parent, 0.0) + s.end - s.start
    return sum(
        s.end - s.start - inner.get(s.sid, 0.0)
        for s in by_name.get("table.upsert", [])
    )
