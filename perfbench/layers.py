"""Per-layer metrics of a traced run, named after the program's modules.

Every metric is reported on every workload; a layer a workload does not
exercise reads 0. Spark counters are per unit of work (micro-batch,
request or gate) of the traced phase. See README.md for which
end-to-end metric each one should move.
"""
import stats

STREAM_PHASES = [("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                 ("query_planning_ms", "queryPlanning"), ("wal_commit_ms", "walCommit"),
                 ("commit_offsets_ms", "commitOffsets"), ("latest_offset_ms", "latestOffset")]
SPARK = [("jobs", "count", None), ("stages", "count", "stages"),
         ("tasks", "count", "tasks"), ("task_overhead_ms", "ms", "task_overhead_ms"),
         ("task_cpu_ms", "ms", "task_cpu_ms"), ("task_run_ms", "ms", "task_run_ms"),
         ("shuffle_read_bytes", "bytes", "shuffle_read_bytes"),
         ("shuffle_write_bytes", "bytes", "shuffle_write_bytes"),
         ("shuffle_records", "count", "shuffle_records"),
         ("spill_bytes", "bytes", "spill_bytes"), ("gc_ms", "ms", "gc_ms"),
         ("output_bytes", "bytes", "output_bytes")]
SELF_LAYERS = ["workload", "call", "batch", "phase", "request", "gate", "job"]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result, workload, facts, gates):
    """facts: warehouse facts of the traced phase (may be empty);
    gates: the operator gate names (metrics exist for all of them)."""
    spans = result["spans"]
    traced = next(p for p in result["phases"] if p["traced"])
    untraced = [p for p in result["phases"] if not p["traced"]]
    root = next(s for s in spans if s["layer"] == "workload"
                and s["attrs"].get("traced") is True)
    tree = stats.subtree(spans, root["id"])
    jobs = [s for s in tree if s["layer"] == "job"]
    units = traced["units"]
    ok = [u for u in units if u["ok"]]
    m = {}

    # ---- streaming + state (engine progress of data batches) ----
    batches = [s for s in tree if s["layer"] == "batch"]
    data = [b for b in batches if b["attrs"].get("input_rows", 0) > 0][1:]
    for name, key in STREAM_PHASES:
        m[f"streaming.{name}"] = (_mean([b["attrs"].get(f"d_{key}", 0.0) for b in data]), "ms")
    m["streaming.batches"] = (len(batches), "count")
    for name, key in [("commit_ms", "state_commit_ms"), ("update_ms", "state_update_ms"),
                      ("removal_ms", "state_removal_ms")]:
        m[f"state.{name}"] = (_mean([b["attrs"].get(key, 0) for b in data]), "ms")
    m["state.rows_total"] = (batches[-1]["attrs"].get("state_rows_total", 0)
                             if batches else 0, "count")
    m["state.memory_bytes"] = (max([b["attrs"].get("state_memory_bytes", 0)
                                    for b in batches] or [0]), "bytes")
    m["state.rows_dropped_by_watermark"] = (
        sum(b["attrs"].get("state_rows_dropped_by_watermark", 0) for b in batches), "count")

    # ---- sinks ----
    out_bytes = sum(j["attrs"]["output_bytes"] for j in jobs)
    table_bytes = facts.get("table_bytes", 0)
    m["sinks.commits"] = (facts.get("commits", 0), "count")
    m["sinks.files_written"] = (sum(j["attrs"].get("files_written", 0) for j in jobs), "count")
    m["sinks.bytes_per_event"] = (table_bytes / facts["rows"] if facts.get("rows") else 0.0,
                                  "bytes/event")
    m["sinks.write_amplification"] = (out_bytes / table_bytes if table_bytes else 0.0, "ratio")
    m["sinks.write_ms"] = (_mean([u["info"]["write_ms"] for u in ok
                                  if "write_ms" in u["info"]]), "ms")
    m["sinks.files_per_partition"] = (
        facts["data_files"] / facts["partitions"] if facts.get("partitions") else 0.0, "ratio")

    # ---- spark engine, per unit of work ----
    n = max(1, len(units))
    m["spark.jobs"] = (len(jobs) / n, "count")
    for name, unit, key in SPARK[1:]:
        m[f"spark.{name}"] = (sum(j["attrs"][key] for j in jobs) / n, unit)
    skew_n = sum(j["attrs"]["skew_n"] for j in jobs)
    m["spark.task_skew"] = (sum(j["attrs"]["skew_sum"] for j in jobs) / skew_n
                            if skew_n else 0.0, "ratio")
    for name in ("analysis_ms", "optimization_ms", "planning_ms"):
        m[f"catalyst.{name}"] = (sum(j["attrs"][name] for j in jobs) / n, "ms")

    # ---- console read path ----
    def unit_ms(kind):
        return _mean([u["ms"] for u in ok if u["name"] == kind])
    cached = [u for u in ok if u["name"] == "cached"]
    rollups = [u for u in ok if u["name"] == "rollup"]
    profiles = [u for u in ok if u["name"] == "profile"]
    m["sql.query_ms"] = (unit_ms("query"), "ms")
    m["sql.cached_query_ms"] = (unit_ms("cached"), "ms")
    m["sql.cache_hit_ratio"] = (_mean([1.0 if u["info"]["cache_hit"] else 0.0
                                       for u in cached]), "ratio")
    m["plans.mv_served_ratio"] = (_mean([1.0 if u["info"]["mv_served"] else 0.0
                                         for u in rollups]), "ratio")
    m["plans.rollup_ms"] = (unit_ms("rollup"), "ms")
    m["profiles.cycle_ms"] = (unit_ms("profile"), "ms")
    m["profiles.users_rebuilt"] = (sum(u["info"]["users_rebuilt"] for u in profiles), "count")

    # ---- operator gates ----
    by_gate = {g: [] for g in gates}
    for s in tree:
        if s["layer"] == "gate" and s["name"] in by_gate:
            by_gate[s["name"]].append(s)
    for g in gates:
        sp = by_gate[g]
        gj = [j for s in sp for j in stats.subtree(tree, s["id"]) if j["layer"] == "job"]
        k = max(1, len(sp))
        m[f"gate_s.{g}"] = (stats.median([(s["end_ms"] - s["start_ms"]) / 1000.0
                                          for s in sp]) if sp else 0.0, "s")
        m[f"gate_planning_ms.{g}"] = (sum(j["attrs"]["analysis_ms"] + j["attrs"]["optimization_ms"]
                                          + j["attrs"]["planning_ms"] for j in gj) / k, "ms")
        m[f"gate_tasks.{g}"] = (sum(j["attrs"]["tasks"] for j in gj) / k, "count")
        m[f"gate_shuffle_bytes.{g}"] = (sum(j["attrs"]["shuffle_write_bytes"] for j in gj) / k,
                                        "bytes")

    # ---- process memory: VmHWM moves 20-25% run to run with the JVM's
    # heap sizing, too much for an end-to-end bound ----
    m["jvm.peak_rss_mb"] = (result["peak_rss_kb"] / 1024.0, "MB")

    # ---- the trace itself ----
    selfs = stats.layer_self_ms(tree)
    for layer in SELF_LAYERS:
        m[f"self_ms.{layer}"] = (selfs.get(layer, 0.0), "ms")
    m["trace.spans"] = (len(tree), "count")
    base = sum(p["info"]["rep_wall_ms"][0] for p in untraced) / len(untraced)
    m["trace.overhead_frac"] = (traced["info"]["rep_wall_ms"][0] / base - 1.0, "ratio")
    return m
