"""Per-layer metrics of a traced run, averaged per timed pass.

Every metric is reported for every workload; a layer a workload does not
touch reads 0. Each span name also gets ``self.<name>_s``: its duration
minus the time its child spans cover.
"""

from __future__ import annotations

import statistics

#: span names, in the order their self times are reported
SPAN_NAMES = ("pass", "queries.op", "queries.plan", "queries.exec", "operators.cache.release",
              "etl.run", "etl.ingest", "etl.transform", "etl.quality", "features.build",
              "ml.fit", "ml.split", "ml.eval")
_BYTES = ("input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def per_layer_metrics(tracer, passes: list[dict], cores: int, event_log: dict) -> dict[str, tuple[float, str]]:
    pass_ids = {p["id"] for p in passes}
    n = len(passes)
    spans = [s for s in tracer.spans if s.pass_id in pass_ids]

    def named(*names):
        return [s for s in spans if s.name in names]

    def secs(*names):
        return sum(s.seconds for s in named(*names)) / n

    def attr(key, *names):
        return sum(s.attrs.get(key, 0) for s in named(*names)) / n

    def logged(key, *names):
        return sum(event_log.get(tracer.group(s), {}).get(key, 0) for s in named(*names)) / n

    m: dict[str, tuple[float, str]] = {
        "queries.plan_s": (secs("queries.plan"), "s"),
        "queries.plan_jobs": (attr("jobs", "queries.plan"), "count"),
        "queries.exec_s": (secs("queries.exec"), "s"),
        "queries.exec_jobs": (attr("jobs", "queries.exec"), "count"),
        "queries.stages": (attr("stages", "queries.plan", "queries.exec"), "count"),
        "queries.tasks": (attr("tasks", "queries.plan", "queries.exec"), "count"),
        "queries.input_bytes": (logged("input_bytes", "queries.plan", "queries.exec"), "bytes"),
        "queries.shuffle_read_bytes": (logged("shuffle_read_bytes", "queries.plan", "queries.exec"), "bytes"),
        "queries.shuffle_write_bytes": (logged("shuffle_write_bytes", "queries.plan", "queries.exec"), "bytes"),
        "queries.spill_bytes": (logged("spill_bytes", "queries.plan", "queries.exec"), "bytes"),
        "operators.cache.released": (attr("released", "operators.cache.release"), "count"),
        "operators.cache.release_s": (secs("operators.cache.release"), "s"),
        "python.worker_cpu_s": (attr("python_cpu_s", "queries.op", "etl.run", "features.build",
                                     "ml.fit", "ml.eval"), "s"),
        "etl.ingest_s": (secs("etl.ingest"), "s"),
        "etl.transform_s": (secs("etl.transform"), "s"),
        "etl.quality_s": (secs("etl.quality"), "s"),
        "etl.quality_jobs": (attr("jobs", "etl.quality"), "count"),
        # the write is what etl.run does outside the wrapped layers
        "etl.write_s": (sum(tracer.self_seconds(s) for s in named("etl.run")) / n, "s"),
        "etl.write_jobs": (attr("jobs", "etl.run"), "count"),
        "etl.write_bytes": (logged("output_bytes", "etl.run"), "bytes"),
        "features.build_s": (secs("features.build"), "s"),
        "features.jobs": (attr("jobs", "features.build"), "count"),
        "ml.fit_s": (secs("ml.fit"), "s"),
        "ml.fit_jobs": (attr("jobs", "ml.fit", "ml.split"), "count"),
        "ml.fit_tasks": (attr("tasks", "ml.fit", "ml.split"), "count"),
        "ml.eval_s": (secs("ml.eval"), "s"),
        "ml.roc_auc": (attr("roc_auc", "ml.eval"), "ratio"),
    }
    busy_ms = sum(event_log.get(tracer.group(s), {}).get("run_ms", 0) for s in spans)
    wall = sum(p["span"].seconds for p in passes)
    m["session.slot_busy_ratio"] = (busy_ms / 1000.0 / (wall * cores), "ratio")
    m["session.failed_tasks"] = (sum(s.attrs.get("failed_tasks", 0) for s in spans) / n, "count")
    m["session.error_lines"] = (sum(p["error_lines"] for p in passes) / n, "count")
    ops = [s for s in spans if s.parent is not None and tracer.spans[s.parent].name == "pass"]
    m["trace.pass_s"] = (statistics.median(p["span"].seconds for p in passes), "s")
    m["trace.overhead_s"] = ((sum(tracer.overhead_s.get(i, 0.0) for i in pass_ids)
                              + sum(s.attrs.get("probe_s", 0.0) for s in ops)) / n, "s")
    m["trace.accounted_ratio"] = (sum(s.seconds for s in ops) / wall, "ratio")
    for name in SPAN_NAMES:
        m[f"self.{name}_s"] = (sum(tracer.self_seconds(s) for s in named(name)) / n, "s")
    return m
