"""Per-layer metrics of a traced run.

Every name in ``PER_LAYER`` is reported on every workload, so the list
is one fixed set: a layer a workload does not exercise reads 0 there
(``sources.*`` and ``jobs.*`` on ``sql_analytics``, ``queries.*`` and
``op.*`` on ``etl_jobs``). Counters are taken on the traced passes; op and job
times on the untraced passes of the same run.
"""

from __future__ import annotations

import stats
import workloads

SPARK = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "gc_s",
    "slot_busy_frac",
    "input_mb",
    "spill_mb",
    "cached_mb_peak",
    "shuffle_write_mb",
    "shuffle_read_mb",
)
SELF_LAYERS = {
    "op": "self.op_s",
    "queries.build": "self.queries_build_s",
    "queries.exec": "self.queries_exec_s",
    "jobs.execute_job": "self.jobs_s",
    "catalog": "self.sources_s",
    "streaming.batch": "self.streaming_s",
}


def _names() -> list:
    names = ["core.session_start_s", "queries.build_s", "queries.exec_s", "queries.build_share"]
    names += [f"spark.{c}" for c in SPARK]
    names += ["streaming.batches", "streaming.jobs_per_batch", "streaming.batch_p50_s"]
    names += [
        "sources.write_s",
        "sources.write_calls",
        "sources.count_s",
        "sources.count_calls",
        "sources.files_written",
        "sources.mb_written",
        "sources.space_amp",
    ]
    names += [f"jobs.{j}_s" for j in workloads.active_ops("etl_jobs")] + ["jobs.alerts"]
    names += [f"op.{o}_s" for o in workloads.active_ops("sql_analytics")]
    names += sorted(SELF_LAYERS.values()) + ["trace.overhead_s"]
    return names


PER_LAYER = _names()


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb") or "_mb_" in name or ".mb_" in name:
        return "MB"
    if name.endswith(("_share", "_frac", "space_amp", "per_batch")):
        return "ratio"
    return "count"


def _layer(span_name: str) -> str:
    if span_name.startswith("op."):
        return "op"
    if span_name.startswith("catalog."):
        return "catalog"
    return span_name


def per_layer(run, passes: list) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    slots = run.record["cpus"]
    out["core.session_start_s"] = run.record["setup"]["session_start_s"]

    # op / job times: untraced passes
    per_op = {}
    for p in plain:
        for name, rec in p["ops"].items():
            per_op.setdefault(name, []).append(rec["wall_s"])
    for name, walls in per_op.items():
        key = f"jobs.{name}_s" if name in workloads.ETL_JOBS else f"op.{name}_s"
        out[key] = stats.median(walls)

    # spans of each traced pass
    spans = run.tracer.spans
    build, execs, selfs = [], [], {}
    for p in traced:
        sp = spans[p["span_range"][0] : p["span_range"][1]]
        build.append(sum(s["end"] - s["start"] for s in sp if s["name"] == "queries.build"))
        execs.append(sum(s["end"] - s["start"] for s in sp if s["name"] == "queries.exec"))
        for name, sec in stats.self_times(sp).items():
            selfs.setdefault(_layer(name), []).append(sec)
    out["queries.build_s"] = stats.median(build)
    out["queries.exec_s"] = stats.median(execs)
    total = out["queries.build_s"] + out["queries.exec_s"]
    out["queries.build_share"] = out["queries.build_s"] / total if total else 0.0
    for layer, key in SELF_LAYERS.items():
        if layer in selfs:
            out[key] = sum(selfs[layer]) / len(traced)

    # Spark counters, per traced pass
    sums = {c: [] for c in SPARK}
    batches, jobs_per_batch, batch_s = [], [], []
    for p in traced:
        recs = p["ops"].values()
        for c in ("jobs", "stages", "tasks", "executor_run_s", "gc_s", "input_mb",
                  "spill_mb", "shuffle_write_mb", "shuffle_read_mb"):
            sums[c].append(sum(r[c] for r in recs))
        busy_wall = sum(r["wall_s"] for r in recs) * slots
        sums["slot_busy_frac"].append(sums["executor_run_s"][-1] / busy_wall)
        sums["cached_mb_peak"].append(max(r["cached_mb"] for r in recs))
        n_b = sum(len(r["batches"]) for r in recs)
        batches.append(n_b)
        stream_jobs = sum(r["jobs"] for r in recs if r["batches"])
        jobs_per_batch.append(stream_jobs / n_b if n_b else 0.0)
        batch_s += [d for r in recs for d in r["batches"]]
    for c in SPARK:
        out[f"spark.{c}"] = stats.median(sums[c])
    out["streaming.batches"] = stats.median(batches)
    out["streaming.jobs_per_batch"] = stats.median(jobs_per_batch)
    out["streaming.batch_p50_s"] = stats.median(batch_s)

    # catalog verbs and alerts (etl_jobs only)
    cats = [p["catalog"] for p in traced if "catalog" in p]
    if cats:
        med = lambda f: stats.median(f(c) for c in cats)  # noqa: E731
        out["sources.write_s"] = med(lambda c: c["seconds"].get("write_table", 0.0))
        out["sources.write_calls"] = med(lambda c: c["calls"].get("write_table", 0))
        out["sources.count_s"] = med(lambda c: c["seconds"].get("get_table_count", 0.0))
        out["sources.count_calls"] = med(lambda c: c["calls"].get("get_table_count", 0))
        out["sources.files_written"] = med(lambda c: c["files_written"])
        out["sources.mb_written"] = med(lambda c: c["bytes_written"] / (1024.0 * 1024.0))
        out["sources.space_amp"] = stats.median(
            p["warehouse_bytes"] for p in traced
        ) / run.input_bytes
        out["jobs.alerts"] = stats.median(p["alerts"] for p in traced)

    out["trace.overhead_s"] = stats.median(p["wall_s"] for p in traced) - stats.median(
        p["wall_s"] for p in plain
    )
    return out
