"""Per-layer metrics of a traced run, computed from the harness's trace
record: its spans (name, start, end, parent, run id), the Spark listener
counters over the measured region (planning time included), stage
intervals and job starts.

Every traced run reports every metric. A layer a workload does not touch
reports 0, which is the prediction for that pairing ("no change
elsewhere"). Span self time is the span's duration minus the part its
children cover; the self times of all spans plus `trace.unattributed_s`
equal `trace.wall_s`, the measured region's wall time.
"""
import statistics

MB = float(1 << 20)
# Layers that own spans, by span-name prefix (the engine's module names).
SPAN_LAYERS = ["etl", "streaming", "llm", "sql", "similarity"]
# The TPC-H queries the benchmark runs: `sql_q2` is left out (see
# perfbench/README.md, "Output checks").
SQL_QUERIES = [f"sql_q{i}" for i in range(1, 23) if i != 2]


def _union_ms(intervals, lo, hi):
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s or e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _self_times(spans):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - _union_ms(kids, s["start_ms"], s["end_ms"])
    return out


def _in_spans(times, spans):
    return sum(1 for t in times if any(s["start_ms"] <= t <= s["end_ms"] for s in spans))


def per_layer(res, info):
    tr = res["trace"]
    c = tr["counters"]
    spans = tr["spans"]
    ops = res["ops"]
    wall_ms = res["measured_ms"]
    region = (res["measured_start_ms"], res["measured_start_ms"] + wall_ms)
    named = lambda n: [s for s in spans if s["name"] == n]
    dur = lambda ss: sum(s["end_ms"] - s["start_ms"] for s in ss) / 1000.0
    ok = lambda kind: [o for o in ops if o.get("kind") == kind and o.get("ok")]
    m = {}

    # Spark runtime (every workload)
    stage_iv = [(s, e) for s, e, _ in tr["stages"]]
    m["spark.jobs"] = (c.get("jobs", 0.0), "count")
    m["spark.stages"] = (c.get("stages", 0.0), "count")
    m["spark.tasks"] = (c.get("tasks", 0.0), "count")
    m["spark.plan_s"] = (c.get("plan_ms", 0.0) / 1000, "s")
    m["spark.codegen_compile_s"] = (c.get("codegen_compile_ns", 0.0) / 1e9, "s")
    m["spark.executor_run_s"] = (c.get("executor_run_ms", 0.0) / 1000, "s")
    m["spark.executor_cpu_s"] = (c.get("executor_cpu_ns", 0.0) / 1e9, "s")
    m["spark.driver_gap_s"] = ((wall_ms - _union_ms(stage_iv, *region)) / 1000, "s")
    m["spark.shuffle_write_mb"] = (c.get("shuffle_write_bytes", 0.0) / MB, "MB")
    m["spark.shuffle_read_mb"] = (c.get("shuffle_read_bytes", 0.0) / MB, "MB")
    m["spark.spill_mb"] = (c.get("spill_bytes", 0.0) / MB, "MB")
    m["gc_s"] = (c.get("gc_ms", 0.0) / 1000, "s")

    # graft.etl / graft.streaming / graft.sources (the landing path)
    uploads, drains = named("etl.upload"), named("streaming.drain")
    objects = sum(len(o["keys"]) for o in ok("round"))
    m["etl.upload_s"] = (dur(uploads), "s")
    m["etl.upload_jobs"] = (float(_in_spans(tr["job_starts_ms"], uploads)), "count")
    m["streaming.drain_s"] = (dur(drains), "s")
    m["streaming.microbatches"] = (float(sum(o["microbatches"] for o in ok("round"))), "count")
    m["streaming.jobs_per_object"] = (
        _in_spans(tr["job_starts_ms"], drains) / objects if objects else 0.0, "count")
    in_mb = res.get("input_bytes", 0) / MB
    out_mb = res.get("bytes_written", 0) / MB
    m["sources.write_s"] = (c.get("write_ns", 0.0) / 1e9, "s")
    m["sources.write_commands"] = (c.get("write_commands", 0.0), "count")
    m["sources.files_written"] = (float(res.get("files_written", 0)), "count")
    m["sources.mb_written"] = (out_mb, "MB")
    m["sources.mb_written_per_input_mb"] = (out_mb / in_mb if in_mb else 0.0, "ratio")

    # graft.llm curation stages, each alone on its own fresh snapshot
    stage = {o["name"]: o["seconds"] for o in ok("stage")}
    for layer in ("llm.gate", "llm.decontaminate", "llm.cluster_dedup",
                  "llm.span_mask", "llm.pack"):
        m[f"{layer}_s"] = (stage.get(layer, 0.0), "s")
    fresh = ok("fresh")
    docs_in = float(len(fresh) * info.get("docs", 0))
    docs_kept = float(sum(o["docs_kept"] for o in fresh))
    fresh_s = statistics.median([o["seconds"] for o in fresh]) if fresh else 0.0
    m["llm.docs_in"] = (docs_in, "count")
    m["llm.docs_kept"] = (docs_kept, "count")
    m["llm.kept_share"] = (docs_kept / docs_in if docs_in else 0.0, "ratio")
    m["llm.refinery_repeat_s"] = (
        statistics.median([o["seconds"] for o in ok("repeat")]) if ok("repeat") else 0.0, "s")
    m["llm.stage_sum_over_refinery"] = (
        sum(stage.values()) / fresh_s if fresh_s else 0.0, "ratio")

    # memo / lineage-cut lifecycle
    repeats = ok("repeat")
    m["cache.pinned_rdds_after"] = (
        float(repeats[-1]["pinned_rdds_after"]) if repeats else 0.0, "count")
    m["cache.storage_mb_peak"] = (tr["storage_peak_bytes"] / MB, "MB")

    # graft.queries: each query's median time, and planning's share of
    # the time spent in the queries
    queries = ok("query")
    for q in SQL_QUERIES:
        secs = [o["seconds"] for o in queries if o["name"] == q]
        m[f"sql.{q[4:]}_s"] = (statistics.median(secs) if secs else 0.0, "s")
    sql_s = dur([s for s in spans if s["name"].startswith("sql.")])
    m["sql.plan_share"] = (c.get("plan_ms", 0.0) / 1000 / sql_s if sql_s else 0.0, "ratio")

    # graft.llm.similarity: IVF-PQ build + search, the brute-force base
    anns, exact = ok("ann"), ok("exact")
    m["similarity.ivfpq_s"] = (
        statistics.median([o["seconds"] for o in anns]) if anns else 0.0, "s")
    m["similarity.exact_topk_s"] = (exact[0]["seconds"] if exact else 0.0, "s")
    m["similarity.recall_hits"] = (float(anns[0]["recall_hits"]) if anns else 0.0, "count")

    # span self time per layer; the remainder is time outside any span
    selfs = _self_times(spans)
    for layer in SPAN_LAYERS:
        m[f"self.{layer}_s"] = (sum(v for s in spans if s["name"].split(".")[0] == layer
                                    for v in [selfs[s["id"]]]) / 1000, "s")
    top = [s for s in spans if s["parent"] < 0]
    m["trace.wall_s"] = (wall_ms / 1000, "s")
    m["trace.unattributed_s"] = ((wall_ms - 1000 * dur(top)) / 1000, "s")
    return m
