"""One benchmark run in its own process session, started by ``run.py``.

Starts the Spark session, runs the workload, prints a detail line and
then the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end set, with
``--trace 1`` the per-layer set (``END_TO_END`` and ``PER_LAYER``
below).  The detail line (``servebench-detail {...}``) carries every
workload-specific figure by name with its unit, the sample counts and
the host state; the same record, and the spans of a traced run, are
written under ``.servebench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
from spans import (JobGroups, MemSampler, Tracer, canary,  # noqa: E402
                   host_ticks, session_cpu)
from workloads import SMOKE_SIZES, WORKLOADS, Ctx, Sizes  # noqa: E402

# name → (unit, better); BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": ("s", "lower"),
    "request_p50_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "peak_mem_gb": ("GB", "lower"),
}
PER_LAYER = {
    "spark.jobs_per_op": ("count", "lower"),
    "spark.stages_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "spark.failed_tasks": ("count", "lower"),
    "spark.action_s": ("s", "lower"),
    "socket.wait_s": ("s", "lower"),
    "socket.self_s": ("s", "lower"),
    "lifecycle.response_json_s": ("s", "lower"),
    "lifecycle.search_s": ("s", "lower"),
    "lifecycle.self_s": ("s", "lower"),
    "query_parser.parse_input_s": ("s", "lower"),
    "query.embed_queries_s": ("s", "lower"),
    "query.topk_plan_s": ("s", "lower"),
    "query.self_s": ("s", "lower"),
    "query.agg_input_rows": ("count", "lower"),
    "query.hit_rows": ("count", "higher"),
    "query.repeat_share": ("ratio", "higher"),
    "query.oov_share": ("ratio", "higher"),
    "query.ref_batch_qps": ("1/s", "higher"),
    "incremental.append_s": ("s", "lower"),
    "incremental.postings_appended": ("count", "higher"),
    "incremental.load_live_s": ("s", "lower"),
    "incremental.delta_segments": ("count", "lower"),
    "incremental.freshness_s": ("s", "lower"),
    "incremental.compact_s": ("s", "lower"),
    "incremental.bytes_written_per_input_byte": ("ratio", "lower"),
    "persist.build_persistent_s": ("s", "lower"),
    "persist.build_docs_per_s": ("1/s", "higher"),
    "build.tokenize_s": ("s", "lower"),
    "resident.make_resident_s": ("s", "lower"),
    "persist.index_bytes_per_input_byte": ("ratio", "lower"),
    "host.cpu_busy_ratio": ("ratio", "higher"),
    "host.canary_py_s": ("s", "lower"),
    "host.canary_spark_s": ("s", "lower"),
    "trace.request_p50_s": ("s", "lower"),
}


def median(v: list[float]) -> float:
    return float(statistics.median(v)) if v else 0.0


def tail(v: list[float]) -> dict:
    """Highest percentile with at least ten samples beyond it."""
    n = len(v)
    if n <= 10:
        return {"value": None, "pct": None, "n": n}
    pct = int(100 * (n - 10) / n)
    cut = statistics.quantiles(v, n=100, method="inclusive")[pct - 1] \
        if pct >= 1 else min(v)
    return {"value": cut, "pct": pct, "n": n}


def metrics_of(o, tracer: Tracer, groups: JobGroups, host: dict,
               peak_mem: int) -> tuple[dict, dict]:
    """(end-to-end values, per-layer values) of one outcome."""
    e2e = {"setup_s": o.setup_s,
           "request_p50_s": median(o.latencies),
           "ops_per_s": o.ops_done / o.ops_busy_s if o.ops_busy_s else 0.0,
           "peak_mem_gb": peak_mem / 2**30}
    seen: set[str] = set()
    repeats = 0
    for q in o.queries:
        repeats += q in seen
        seen.add(q)
    ops = o.request_ops
    x = o.extra
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update(o.layer)
    layer.update({
        "spark.action_s": tracer.per_op("spark.action", ops),
        "socket.wait_s": median(x.get("socket_wait", [])),
        "lifecycle.response_json_s": tracer.per_op(
            "lifecycle.response_json", ops),
        "lifecycle.search_s": tracer.per_op("lifecycle.search", ops),
        "query_parser.parse_input_s": tracer.per_op(
            "query_parser.parse_input", ops),
        "query.embed_queries_s": tracer.per_op("query.embed_queries", ops),
        "query.topk_plan_s": tracer.per_op("query.topk_plan", ops),
        "query.agg_input_rows": median(o.agg_rows),
        "query.hit_rows": median(o.hit_rows),
        "query.repeat_share": repeats / len(o.queries) if o.queries else 0.0,
        "query.oov_share": (sum(map(inputs.is_oov, o.queries))
                            / len(o.queries) if o.queries else 0.0),
        "query.ref_batch_qps": x.get("ref_batch_qps", 0.0),
        "incremental.append_s": median(x.get("append_s", [])),
        "incremental.postings_appended": median(
            x.get("postings_appended", [])),
        "incremental.load_live_s": median(x.get("load_live_s", [])),
        "incremental.delta_segments": median(x.get("delta_segments", [])),
        "incremental.freshness_s": median(x.get("freshness_s", [])),
        "incremental.compact_s": median(x.get("compact_s", [])),
        "incremental.bytes_written_per_input_byte": x.get(
            "bytes_written_per_input_byte", 0.0),
        "host.cpu_busy_ratio": host["cpu_busy_ratio"],
        "host.canary_py_s": host["canary_py_s"],
        "host.canary_spark_s": host["canary_spark_s"],
        "trace.request_p50_s": e2e["request_p50_s"],
    })
    for layer_name, v in tracer.self_time(ops).items():
        layer[f"{layer_name}.self_s"] = v
    if tracer.enabled:
        layer.update(groups.counts(ops))
    return e2e, {k: layer[k] for k in PER_LAYER}


def detail_of(workload: str, o, e2e: dict, host: dict) -> dict:
    """Every workload-specific end-to-end figure by name and unit."""
    x = o.extra
    t = tail(o.latencies)
    figures = {
        "setup_s": (e2e["setup_s"], "s"),
        "request_p50_s": (e2e["request_p50_s"], "s"),
        "request_tail_s": (t["value"], "s"),
        "failed_ratio": (o.failed / o.attempted if o.attempted else 1.0,
                         "ratio"),
        "peak_mem_gb": (e2e["peak_mem_gb"], "GB"),
    }
    if workload == "serve_search":
        figures["serve_rps"] = (e2e["ops_per_s"], "1/s")
    else:
        figures.update({
            "append_p50_s": (median(x.get("append_s", [])), "s"),
            "freshness_p50_s": (median(x.get("freshness_s", [])), "s"),
            "compact_p50_s": (median(x.get("compact_s", [])), "s"),
            "probe_p50_s": (median(x.get("probe_s", [])), "s"),
        })
    return {"workload": workload,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in figures.items()},
            "request_tail": {"pct": t["pct"], "samples": t["n"]},
            "samples": {"requests": len(o.latencies), "ops": o.ops_done,
                        "appends": len(x.get("append_s", [])),
                        "compactions": len(x.get("compact_s", []))},
            "latencies_s": [round(v, 4) for v in o.latencies],
            "oov_latencies_s": [round(v, 4) for v in o.oov_latencies],
            "host": host, "errors": o.errors[:5]}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()

    sys.path.insert(0, os.getcwd())
    from garamond_jl_spark.session import get_spark

    sid = os.getsid(0)
    tracer = Tracer(bool(args.trace))
    with MemSampler(sid) as mem:
        cpus = len(os.sched_getaffinity(0))
        spark = get_spark("servebench", cpus=cpus)
        spark.sparkContext.setLogLevel("ERROR")
        phases = {"session_up": time.perf_counter() - T_START}
        groups = JobGroups(spark.sparkContext, tracer.enabled)
        ctx = Ctx(spark, args.work, args.seed, args.seconds,
                  SMOKE_SIZES if args.smoke else Sizes(), tracer, groups,
                  args.corrupt)
        cpu0, wall0 = session_cpu(sid), time.perf_counter()
        steal0, total0 = host_ticks()
        outcome = WORKLOADS[args.workload](ctx)
        phases["workload_done"] = time.perf_counter() - T_START
        busy = ((session_cpu(sid) - cpu0)
                / ((time.perf_counter() - wall0) * cpus))
        steal1, total1 = host_ticks()
        # canaries after the workload, so they neither warm the JVM for
        # the timed set-up nor measure its cold start
        host = {"cpu_busy_ratio": busy,
                "steal_ratio": (steal1 - steal0) / max(1, total1 - total0),
                **canary(spark)}
        e2e, layer = metrics_of(outcome, tracer, groups, host, mem.peak)
        phases["metrics_done"] = time.perf_counter() - T_START
        spark.stop()
    phases["stopped"] = time.perf_counter() - T_START
    detail = detail_of(args.workload, outcome, e2e, host)
    detail["phases_s"] = phases

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, f"{tag}.json"), "w") as f:
        json.dump({"detail": detail, "end_to_end": e2e, "per_layer": layer},
                  f, indent=1)
    if tracer.enabled:
        tracer.write(os.path.join(args.out, f"{tag}.spans.json"))
    print("servebench-detail " + json.dumps(detail), flush=True)

    chosen, values = ((PER_LAYER, layer) if args.trace
                      else (END_TO_END, e2e))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": values[k], "unit": chosen[k][0]}
                    for k in chosen}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
