"""Reduce a workload's raw samples to the metrics ``BENCHMARK.json`` names.

End-to-end metrics come from the untraced run. Per-layer metrics come from
the traced steps of the traced run: their spans, the Spark jobs and stages
the UI's REST API reports, the streaming listener's progress events and
the traced merge tables' write records. Every per-layer metric is emitted for every
workload; a layer a workload never calls reads 0. Times and counts are
per step (a wave, or a query of the warm passes) unless named otherwise.
The traced run's tracing overhead is its traced step median minus the
median of the untraced steps it interleaves with them.
"""

from __future__ import annotations

import statistics

from spans import attribute_jobs, descendants, durations, fetch_spark_activity, self_times

UNITS = {"setup_s": "s", "step_p50_s": "s", "throughput_per_s": "1/s"}
PER_LAYER = (
    ("plans.dim_load_s", "s"), ("plans.fact_load_s", "s"), ("plans.agg_refresh_s", "s"),
    ("plans.self_s", "s"),
    ("streaming.batches", "count"), ("streaming.input_rows", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.offset_commit_s", "s"),
    ("streaming.startup_s", "s"), ("streaming.jobs", "count"),
    ("merge.fact_s", "s"), ("merge.dim_s", "s"), ("merge.calls", "count"),
    ("merge.jobs", "count"), ("merge.buckets_rewritten", "count"),
    ("merge.bytes_written", "bytes"), ("merge.rows_rewritten_per_row_in", "ratio"),
    ("sources.dim_other_s", "s"), ("aggregate.jobs", "count"),
    ("storage.bytes_per_row", "bytes"),
    ("queries.construct_s", "s"), ("queries.construct_jobs", "count"),
    ("queries.action_s", "s"), ("queries.action_jobs", "count"), ("queries.tasks", "count"),
    ("queries.cold_construct_s", "s"),
    ("registry.similarity_s", "s"), ("registry.dedup_s", "s"), ("registry.text_s", "s"),
    ("registry.other_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_bytes", "bytes"),
    ("trace.step_p50_s", "s"),
)
UNITS.update(PER_LAYER)


def with_units(values: dict) -> dict:
    return {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}


def end_to_end(result: dict) -> dict:
    return {
        "setup_s": statistics.median(result["setup"]),
        "step_p50_s": statistics.median(result["steps"]),
        "throughput_per_s": result["throughput"],
    }


def tail_percentile(n: int) -> int | None:
    """The highest of p50/p75/p90/p95/p99 with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def per_layer(workload: str, run, result: dict) -> tuple[dict, dict]:
    spans = run.tracer.spans
    steps = result["step_spans"]
    n = max(len(steps), 1)
    inside = descendants(spans, steps)
    mine = [s for s in spans if s["id"] in inside]
    jobs, stages = fetch_spark_activity(run.spark)
    by_span = attribute_jobs(spans, jobs)

    def jobs_in(name: str) -> list[dict]:
        ids = descendants(spans, [s["id"] for s in mine if s["name"] == name])
        return [j for sid in ids for j in by_span.get(sid, [])]

    def dur(name: str) -> float:
        return sum(durations(spans, name, inside)) / n

    step_jobs = [j for sid in inside for j in by_span.get(sid, [])]
    out = {k: 0.0 for k, _ in PER_LAYER}
    out.update({
        "spark.jobs": len(step_jobs) / n,
        "spark.stages": sum(len(j["stages"]) for j in step_jobs) / n,
        "spark.input_bytes": sum(stages.get(s, {}).get("input", 0) for j in step_jobs for s in j["stages"]) / n,
        "spark.shuffle_bytes": sum(stages.get(s, {}).get("shuffle", 0) for j in step_jobs for s in j["stages"]) / n,
        "trace.step_p50_s": statistics.median(result["steps"]),
    })
    info: dict = {"steps": len(steps)}
    if workload == "cdc_trickle":
        selfs = self_times(mine)
        out.update({
            "plans.dim_load_s": dur("plans.dim_load"),
            "plans.fact_load_s": dur("plans.fact_load"),
            "plans.agg_refresh_s": dur("plans.agg_refresh"),
            "plans.self_s": sum(v for k, v in selfs.items() if k.startswith("plans.")) / n,
            "merge.fact_s": dur("merge.fact"),
            "merge.dim_s": dur("merge.dim"),
            "aggregate.jobs": len(jobs_in("plans.agg_refresh")) / n,
            "storage.bytes_per_row": result["store_bytes_per_row"],
        })
        out["sources.dim_other_s"] = out["plans.dim_load_s"] - out["merge.dim_s"]
        plans = out["plans.dim_load_s"] + out["plans.fact_load_s"] + out["plans.agg_refresh_s"]
        info["plans_share_of_wave"] = plans * n / sum(result["steps"])
        calls = [c for t in result["tables"] for c in t.calls if c["span"] in inside]
        merge_jobs = jobs_in("merge.dim") + jobs_in("merge.fact")
        out.update({
            "merge.calls": len(calls) / n,
            "merge.jobs": len(merge_jobs) / n,
            "merge.buckets_rewritten": sum(c["buckets"] for c in calls) / n,
            "merge.bytes_written": sum(c["bytes_written"] for c in calls) / n,
            "merge.rows_rewritten_per_row_in": sum(c["rows_written"] for c in calls) / result["rows_in"],
        })
        out.update(_streaming(spans, inside, result, jobs, jobs_in, n, info))
    else:
        out.update(_registry(spans, result, by_span, n, info))
    untraced_p50 = statistics.median(result["untraced_steps"])
    info["overhead"] = {
        "step_p50_s": out["trace.step_p50_s"] - untraced_p50,
        "share": out["trace.step_p50_s"] / untraced_p50 - 1,
        "untraced_step_p50_s": untraced_p50,
        "untraced_steps": len(result["untraced_steps"]),
    }
    return out, info


def _streaming(spans, inside, result, jobs, jobs_in, n, info) -> dict:
    """Per-trigger numbers from the listener, which is attached only
    around traced waves, so every query it saw belongs to one. Stream jobs run
    on the stream's own thread under its run id as job group, which a
    caller-side job group never sees; when no job carries one of those
    run ids, fall back to the jobs submitted inside the fact-load spans."""
    fact_spans = [s for s in spans if s["id"] in inside and s["name"] == "plans.fact_load"]
    events = result["stream_events"]
    runs = list(events)
    progress = [p for rid in runs for p in events[rid]["progress"]]
    trig = sum(p["ms"].get("triggerExecution", 0) for p in progress) / 1000
    add = sum(p["ms"].get("addBatch", 0) for p in progress) / 1000
    grouped = [j for j in jobs if j["group"] in set(runs)]
    info["stream_job_attribution"] = "run id job group" if grouped else "span time window"
    return {
        "streaming.batches": sum(1 for p in progress if p["rows"] > 0) / n,
        "streaming.input_rows": sum(p["rows"] for p in progress) / n,
        "streaming.add_batch_s": add / n,
        "streaming.offset_commit_s": (trig - add) / n,
        "streaming.startup_s": (sum(s["end"] - s["start"] for s in fact_spans) - trig) / n,
        "streaming.jobs": len(grouped or jobs_in("plans.fact_load")) / n,
    }


def _registry(spans, result, by_span, n, info) -> dict:
    from workloads import FAMILIES, family

    def jobs_of(span_id):
        ids = descendants(spans, [span_id])
        return [j for sid in ids for j in by_span.get(sid, [])]

    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], {})[s["name"]] = s["id"]
    construct_jobs = action_jobs = tasks = 0
    fam = dict.fromkeys(FAMILIES, 0.0)
    families = {name: family(name) for name in {q["name"] for q in result["warm"]}}
    for q in result["warm"]:
        kids = children.get(q["span"], {})
        cj = jobs_of(kids["queries.construct"]) if "queries.construct" in kids else []
        aj = jobs_of(kids["queries.action"]) if "queries.action" in kids else []
        construct_jobs += len(cj)
        action_jobs += len(aj)
        tasks += sum(j["tasks"] for j in cj + aj)
        fam[families[q["name"]]] += q["construct"] + q["action"]
    passes = result["passes"]
    warm_construct = sum(q["construct"] for q in result["warm"]) / passes
    info["cold_construct_pass_s"] = result["setup"]
    info["warm_passes"] = passes
    return {
        "queries.construct_s": sum(q["construct"] for q in result["warm"]) / n,
        "queries.action_s": sum(q["action"] for q in result["warm"]) / n,
        "queries.construct_jobs": construct_jobs / n,
        "queries.action_jobs": action_jobs / n,
        "queries.tasks": tasks / n,
        "queries.cold_construct_s": statistics.median(result["setup"]) - warm_construct,
        **{f"registry.{f}_s": t / passes for f, t in fam.items()},
    }
