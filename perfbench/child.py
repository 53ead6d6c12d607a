"""Measured process of one benchmark run: start the session, run one
workload, write the result JSON.  Launched by run.py with a fresh
TMPDIR and the checkout on PYTHONPATH; not meant to be run by hand.

Usage: python3 perfbench/child.py CONFIG_JSON RESULT_JSON
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def _exec_totals(log: dict, spans: list[dict], op: int) -> dict:
    """Event-log totals of every job group belonging to one op's spans."""
    tot: dict[str, float] = {}
    for s in spans:
        if s["op"] != op:
            continue
        for k, v in log["groups"].get(f"span-{s['id']}", {}).items():
            tot[k] = tot.get(k, 0.0) + v
    return tot


def _span_jobs(log: dict, spans: list[dict], pred) -> list[float]:
    return [log["groups"].get(f"span-{s['id']}", {}).get("jobs", 0.0) for s in spans if pred(s)]


def _layer_counts(ctx, log: dict, xml: str | None) -> None:
    """Per-layer counts that need the event log."""
    from workloads import BUILD_TARGETS

    spans, layers = ctx.tracer.spans, ctx.layers
    traced_ops = sorted({s["op"] for s in spans if s["op"] is not None})
    per_op = [_exec_totals(log, spans, op) for op in traced_ops]

    def med(key: str, scale: float = 1.0) -> float:
        vals = [t.get(key, 0.0) * scale for t in per_op]
        return statistics.median(vals) if vals else 0.0

    layers["op.jobs"] = med("jobs")
    layers["exec.stages"] = med("stages")
    layers["exec.tasks"] = med("tasks")
    layers["exec.executor_run_s"] = med("executor_run_s")
    layers["exec.executor_cpu_s"] = med("executor_cpu_s")
    layers["exec.jvm_gc_s"] = med("jvm_gc_s")
    layers["exec.shuffle_read_mb"] = med("shuffle_read_b", 1e-6)
    layers["exec.shuffle_write_mb"] = med("shuffle_write_b", 1e-6)
    layers["exec.spill_mb"] = med("spill_b", 1e-6)

    # sources.osm_xml / etl: one ETL op is one span with no children
    etl = [s for s in spans if s["name"] == "etl.run_osm_etl" and s["op"] is not None]
    if etl:
        extract = os.path.basename(xml)
        passes = [
            sum(
                1
                for plan in log["sql"].get(f"span-{s['id']}", [])
                if "MapInPandas" in plan and extract in plan
            )
            for s in etl
        ]
        layers["osm_xml.parse_passes"] = statistics.median(passes)
        layers["etl.jobs"] = layers["op.jobs"]

    # plans.registry + operator modules: build/exec jobs per module and
    # for the four build-phase targets, per traced pass
    n_pass = len(traced_ops) or 1
    for phase in ("build", "exec"):
        for s in spans:
            if s["name"].startswith(f"{phase}:") and s["op"] is not None:
                key = f"{s['module']}.{phase}_jobs"
                jobs = log["groups"].get(f"span-{s['id']}", {}).get("jobs", 0.0)
                layers[key] = layers.get(key, 0.0) + jobs / n_pass
    for q in BUILD_TARGETS:
        jobs = _span_jobs(log, spans, lambda s, q=q: s["name"] == f"build:{q}")
        layers[f"{q}.build_jobs"] = statistics.median(jobs) if jobs else 0
    layers["catalog.load_jobs"] = sum(
        _span_jobs(log, spans, lambda s: s["name"].startswith("catalog.load_table:"))
    )
    # serve: jobs per request by type
    for kind, name in (("bm25", "text.bm25_search"), ("ivfpq", "pq.ivfpq_search"), ("rrf", "text.rrf_search")):
        jobs = _span_jobs(log, spans, lambda s, k=kind: s["name"] == f"serve.{k}" and s["op"] is not None)
        if jobs:
            layers[f"{name}.jobs_per_request"] = statistics.median(jobs)


def _layer_times(ctx) -> dict[str, float]:
    """Self time per span name over the traced timed ops, per op."""
    from tracing import self_times

    spans = ctx.tracer.spans
    own = self_times(spans)
    ops = {s["op"] for s in spans if s["op"] is not None}
    by_name: dict[str, float] = {}
    for s in spans:
        if s["op"] is not None:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + own[s["id"]] / len(ops)
    for mod_phase in ("build", "exec", "plan"):
        mods: dict[str, float] = {}
        for s in spans:
            if s["name"].startswith(f"{mod_phase}:") and s["op"] is not None:
                mods[s["module"]] = mods.get(s["module"], 0.0) + own[s["id"]] / len(ops)
        for mod, v in mods.items():
            ctx.layers[f"{mod}.{mod_phase}_s"] = v
        if mod_phase == "plan" and mods:
            ctx.layers["mix.plan_s"] = sum(mods.values())
    return by_name


def main() -> int:
    cfg_path, out_path = sys.argv[1], sys.argv[2]
    with open(cfg_path) as fh:
        cfg = json.load(fh)
    from open_street_map_data_wrangling_spark.session import get_spark

    import tracing
    import workloads

    spark = get_spark(
        f"perfbench-{cfg['workload']}",
        master=f"local[{cfg['cores']}]",
        shuffle_partitions=cfg["cores"],
        driver_memory=cfg["driver_memory"],
    )
    session_start = time.time() - cfg["t_spawn"]
    ctx = workloads.Ctx(
        spark=spark,
        tracer=tracing.Tracer(spark.sparkContext, cfg["trace"]),
        seed=cfg["seed"],
        seconds=cfg["seconds"],
        trace=cfg["trace"],
        run_dir=cfg["run_dir"],
        inputs=cfg["inputs"],
    )
    try:
        workloads.WORKLOADS[cfg["workload"]](ctx)
    except Exception as exc:  # report the failure; the parent exits non-zero
        import traceback

        traceback.print_exc()
        ctx.fail(f"workload aborted: {type(exc).__name__}: {exc}")
    peak_rss = tracing.tree_peak_rss_mb(os.getpid())
    result = {
        "session_start_s": session_start,
        "setup_s": (ctx.setup_done - cfg["t_spawn"]) if ctx.setup_done else None,
        "ops": ctx.ops,
        "op_p50_s": ctx.op_p50_s,
        "errors": ctx.errors,
        "report": ctx.report,
        "layers": ctx.layers,
        "peak_rss_mb": peak_rss,
    }
    spark.stop()  # flushes the event log
    if cfg["trace"] and ctx.tracer.spans:
        log = tracing.read_event_log(cfg["event_log_dir"])
        _layer_counts(ctx, log, cfg["inputs"].get("xml"))
        result["self_s_per_op"] = _layer_times(ctx)
        result["spans"] = ctx.tracer.spans
    with open(out_path, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
