"""The traced run behind `run.py --trace 1`: per-layer metrics of one workload.

1. Untraced and traced passes of the operation, alternating. A traced pass
   runs in its own Spark job group, with spans around the package calls, and
   Spark's per-stage metrics are read back from the status store after it.
   The difference in pass time is the tracing overhead.
2. For `dedup` and `ann`, a step-by-step run that forces each operator by its
   own action (workloads.Workload.decompose).
3. For `articles` and `turns`, the engine run in-process and single-threaded
   over a seeded sample of the same rows, once plain and once with wrappers
   around the public functions of htmldom and engine.

Every per-layer metric is printed for every workload; a layer the workload
never runs reads 0.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from ukeeper_readability_spark.engine import extract_document

from . import metric_units, trace
from .workloads import engine_run

MIN_PAIRS = 2  # (untraced, traced) pass pairs, at least, for the medians

PER_LAYER = metric_units("per_layer")


@contextmanager
def _span_write_with_manifest(spans):
    """Record write_with_manifest as a span, wherever run_pipeline calls it."""
    from ukeeper_readability_spark.jobs import extract_job

    orig = extract_job.write_with_manifest

    def wrapped(*args, **kwargs):
        with spans.span("jobs.write_with_manifest"):
            return orig(*args, **kwargs)

    extract_job.write_with_manifest = wrapped
    try:
        yield
    finally:
        extract_job.write_with_manifest = orig


def _busy_share(m: dict, wall: float, t0: float, slots: int) -> float:
    """Executor run time over the pass's slot-seconds, plus the share of the
    pass no job was running (driver-side planning, commits, collects)."""
    spans = sorted((trace._parse_time(j["submissionTime"]), trace._parse_time(j["completionTime"]))
                   for j in m["jobs"])
    covered, end = 0.0, t0
    for a, b in spans:
        a, b = max(a, end), min(b, t0 + wall)
        if b > a:
            covered += b - a
            end = b
    executor = trace.sum_stages(m["stages"], "executorRunTime") / 1000.0
    return (executor / slots + (wall - covered)) / wall


def _jobs_metrics(sm, m: dict, spans, pass_span: dict) -> dict:
    """JVM GC time for every workload; the extraction-job layers only where
    the pass ran the extraction UDF."""
    out = {"jobs.gc_s": trace.sum_stages(m["stages"], "jvmGcTime") / 1000.0}
    udf = [s for s in m["stages"] if s["stageId"] in m["udf_stages"]]
    other = [s for s in m["stages"] if s["stageId"] not in m["udf_stages"]]
    if udf:
        out.update({
            "jobs.udf_task_s": trace.sum_stages(udf, "executorRunTime") / 1000.0,
            "jobs.scan_join_s": trace.sum_stages(
                other, "executorRunTime", lambda s: s["inputBytes"] > 0) / 1000.0,
            "jobs.shuffle_write_mb": trace.sum_stages(m["stages"], "shuffleWriteBytes") / 1e6,
            "jobs.sink_s": 0.0,
        })
        big = max(udf, key=lambda s: s["executorRunTime"])
        med, mx = sm.task_quantiles(big)
        out["jobs.task_max_over_median"] = mx / med if med else 0.0
        sinks = [s for s in spans.spans if s["name"] == "jobs.write_with_manifest"
                 and s["parent"] == pass_span["id"]]
        if sinks:
            # the sink after the extraction: commit, read-back stats, manifest
            extract_end = trace.job_end(m["jobs"], {s["stageId"] for s in udf})
            out["jobs.sink_s"] = max(0.0, sinks[0]["end"] - extract_end)
    return out


def _engine_metrics(wl, log) -> dict:
    sample = wl.engine_sample()
    if not sample:
        return {}
    n = len(sample)
    in_bytes = sum(len(t.encode("utf-8", "surrogateescape")) for t, _, _ in sample)
    plain = []
    for _ in range(3):
        t0 = time.perf_counter()
        totals = engine_run(extract_document, sample, wl.snippet)
        plain.append(time.perf_counter() - t0)
    timer = trace.CallTimer()
    with trace.wrapped_engine(timer) as extract:
        t0 = time.perf_counter()
        engine_run(extract, sample, wl.snippet)
        wrapped = time.perf_counter() - t0
    plain_s = statistics.median(plain)
    log(f"engine sample {n} docs: plain {plain_s / n * 1e3:.3f} ms/doc, "
        f"wrapped {wrapped / n * 1e3:.3f} ms/doc")

    def ms(name, table=timer.total):
        return table.get(name, 0.0) * 1e3 / n

    return {
        "htmldom.parse_calls_per_doc": timer.calls.get("htmldom.parse", 0) / n,
        "htmldom.parsed_bytes_per_input_byte": (
            timer.bytes_in.get("htmldom.parse", 0) + timer.bytes_in.get("htmldom.parse_head", 0)
        ) / in_bytes,
        "htmldom.parse_ms_per_doc": ms("htmldom.parse") + ms("htmldom.parse_head"),
        "htmldom.render_ms_per_doc": ms("htmldom.render"),
        "htmldom.select_ms_per_doc": ms("htmldom.select"),
        "engine.extract_ms_per_doc": plain_s * 1e3 / n,
        "engine.readability_self_ms_per_doc": ms("engine.readability", timer.self_time),
        "engine.text_ms_per_doc": ms("engine.text"),
        "engine.links_ms_per_doc": ms("engine.links"),
        "engine.pics_ms_per_doc": ms("engine.pics"),
        "engine.nodes_scored_per_doc": totals["nodes_scored"] / n,
        "engine.rule_hit_share": totals["rule_hit"] / n,
        "trace.engine_overhead_share": wrapped / plain_s - 1.0,
    }


def traced_run(wl, seconds: float, problems: list, log, slots: int, workdir: str) -> dict:
    """Untraced and traced passes alternate until `seconds` of pass time have
    elapsed, so warm-up drift cancels out of the overhead; per-layer figures
    are medians over the traced passes."""
    sm = trace.StageMetrics(wl.spark)
    spans = trace.Spans()
    plain_times, traced_times, per_pass = [], [], []
    attempted = 0
    while len(per_pass) < MIN_PAIRS or sum(plain_times) + sum(traced_times) < seconds:
        attempted += 2
        t0 = time.perf_counter()
        out = wl.run_pass()
        plain_times.append(time.perf_counter() - t0)
        problems.extend(wl.check(out))
        group = f"{wl.name}.pass{len(per_pass)}"
        with sm.group(group), _span_write_with_manifest(spans), \
                spans.span(f"{wl.name}.pass", group=group) as sp:
            out = wl.run_pass()
        wall = sp["end"] - sp["start"]
        traced_times.append(wall)
        problems.extend(wl.check(out))
        m = sm.collect(group)
        jm = _jobs_metrics(sm, m, spans, sp)
        jm["trace.accounted_share"] = _busy_share(m, wall, sp["start"], slots)
        per_pass.append(jm)
    metrics = {k: 0.0 for k in PER_LAYER}
    for k in per_pass[0]:
        metrics[k] = statistics.median(p[k] for p in per_pass)
    metrics["trace.overhead_share"] = (
        statistics.median(traced_times) / statistics.median(plain_times) - 1.0)
    log(f"pass seconds untraced {[round(t, 3) for t in plain_times]}, "
        f"traced {[round(t, 3) for t in traced_times]}")

    decomposed = wl.decompose(sm, spans)
    if decomposed:
        layer, step_problems = decomposed
        problems.extend(step_problems)
        metrics.update(layer)
    engine = _engine_metrics(wl, log)
    metrics.update(engine)
    if engine and wl.rows:
        metrics["jobs.floor_ms_per_row"] = (
            metrics["jobs.udf_task_s"] * 1e3 / wl.rows - engine["engine.extract_ms_per_doc"])
    out_dir = os.path.join(os.path.dirname(workdir), "traces")
    os.makedirs(out_dir, exist_ok=True)
    spans.write(os.path.join(out_dir, f"{wl.name}-{wl.seed}.json"))
    return {"attempted": attempted, "failed": 0,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in PER_LAYER.items()}}
