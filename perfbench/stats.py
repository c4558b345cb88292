"""Statistics of the benchmark: percentiles, span self time, failure
accounting and the per-run metric tables. Pure functions over the JVM's
raw records, so they can be tested without Spark."""
import math
import statistics

# Percentiles tried for the tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# Samples that must lie beyond a percentile for it to be reported.
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile by nearest rank, and the samples above it."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p * n / 100.0))
    return sorted_values[rank - 1], n - rank


def tail(values):
    """The highest percentile of TAIL_LADDER with at least TAIL_MIN_BEYOND
    samples beyond it: (value, percentile, samples beyond). With fewer
    than 2 x TAIL_MIN_BEYOND samples no percentile qualifies; the median
    is returned with its (short) count, and the caller flags it."""
    s = sorted(values)
    for p in TAIL_LADDER:
        v, beyond = nearest_rank(s, p)
        if beyond >= TAIL_MIN_BEYOND:
            return v, p, beyond
    v, beyond = nearest_rank(s, 50.0)
    return v, 50.0, beyond


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part its children cover. `spans` are
    (id, parent, op, name, t0, t1) tuples."""
    kids = {}
    for sid, parent, _, _, t0, t1 in spans:
        kids.setdefault(parent, []).append((t0, t1))
    return {sid: (t1 - t0) - covered(kids.get(sid, []), t0, t1)
            for sid, _, _, _, t0, t1 in spans}


def self_time_table(spans):
    """Span name -> [total seconds, self seconds], over all spans."""
    own = self_times(spans)
    out = {}
    for sid, _, _, name, t0, t1 in spans:
        row = out.setdefault(name, [0.0, 0.0])
        row[0] += (t1 - t0) / 1e6
        row[1] += own[sid] / 1e6
    return out


def failed(op, wrong_answers):
    """An op fails if it threw, its in-run check failed, or the oracle
    compare rejected its answer (`wrong_answers` names the queries whose
    answer was wrong)."""
    return bool(op["error"]) or op["name"] in wrong_answers


def failures(ops, wrong_answers):
    """(attempted, failed) over `ops`."""
    return len(ops), sum(1 for o in ops if failed(o, wrong_answers))


def op_seconds(ops):
    return [(o["t1_us"] - o["t0_us"]) / 1e6 for o in ops]


KIND_CLASS = {
    "range_read": "read", "needle": "read", "sql_read": "read",
    "time_travel": "read", "changes": "read",
    "compact": "maint", "vacuum": "maint",
}


def kind_class(kind):
    """Op kind -> 'read', 'write' or 'maint' (olap queries are reads)."""
    if kind == "query":
        return "read"
    return KIND_CLASS.get(kind, "write")


FAMILIES = {
    "graph": ("q_graph_", "q_hierarchy_"),
    "dedup": ("q_dedup_",),
    "text": ("q_text_", "q_url_", "q_regex", "q_str_"),
    "vector": ("q_sim_", "q_embed_", "q_knn_"),
}


def family(name):
    """Operator family of a registry query, by name prefix, or None."""
    for fam, prefixes in FAMILIES.items():
        if name.startswith(prefixes):
            return fam
    return None


# Units of the end-to-end figures printed beside BENCHMARK.json's.
UNITS = {"failed_frac": "frac", "space_amp": "ratio", "write_p50_s": "s",
         "write_tail_s": "s", "read_p50_s": "s", "read_tail_s": "s"}


def p50(values):
    return nearest_rank(sorted(values), 50.0)[0]


# Workloads whose ops rerun a few queries: their median latency is the
# median of the per-query medians, so every query counts the same.
PER_QUERY_P50 = {"olap_hot"}


def end_to_end(ops, result, wrong_answers=()):
    """End-to-end metrics of an untraced run. Failed ops are counted in
    `failures`, never here: only the ops that succeeded are timings."""
    ops = [o for o in ops if not failed(o, wrong_answers)]
    secs = op_seconds(ops)
    n = len(secs)
    notes = {"ops": n}
    if not n:
        return {"setup_s": result["setup_s"], "ops_per_s": 0.0,
                "op_p50_s": 0.0, "op_tail_s": 0.0, "cpu_s": 0.0,
                "rss_peak_mb": result["rss_peak_mb"]}, notes
    out = {
        "setup_s": result["setup_s"],
        "ops_per_s": n / sum(secs),
        "op_p50_s": p50(secs),
        "cpu_s": sum(o["cpu_s"] for o in ops) / n,
        "rss_peak_mb": result["rss_peak_mb"],
    }
    if result["workload"] in PER_QUERY_P50:
        per = {}
        for o, t in zip(ops, secs):
            per.setdefault(o["name"], []).append(t)
        out["op_p50_s"] = statistics.median(
            statistics.median(v) for v in per.values())
        notes["samples_per_query"] = min(map(len, per.values()))
    out["op_tail_s"], p, beyond = tail(secs)
    notes.update(op_tail_pct=p, op_tail_beyond=beyond)
    for cls in ("write", "read"):
        s = [t for o, t in zip(ops, secs) if kind_class(o["kind"]) == cls]
        if s and result["workload"] == "lakehouse":
            out[f"{cls}_p50_s"] = p50(s)
            out[f"{cls}_tail_s"], p, beyond = tail(s)
            notes[f"{cls}_tail_pct"], notes[f"{cls}_tail_beyond"] = p, beyond
            notes[f"{cls}_ops"] = len(s)
    return out, notes


def per_layer(ops, result, wrong_answers=()):
    """Per-layer metrics of a traced run. Times and counts are totals
    over the traced ops divided by their number (per op); ratios and
    sizes are as named. The tracing cost compares only ops that
    succeeded."""
    traced = [o for o in ops if o["traced"]]
    plain = [o for o in ops
             if not o["traced"] and not failed(o, wrong_answers)]
    n = max(1, len(traced))
    c = dict(result["counters"])
    table = self_time_table(result["spans"])

    def span_s(name):
        return table.get(name, [0.0, 0.0])[0]

    out = {}
    out["queries.build_s"] = span_s("build") / n
    out["queries.build_jobs"] = c.get("queries.build_jobs", 0) / n
    for k in ("plans.analysis_s", "plans.optimization_s",
              "plans.planning_s", "plans.actions",
              "codegen.compiles", "codegen.compile_s", "codegen.bytecode_kb",
              "jvm.jit_s", "jvm.gc_s"):
        out[k] = c.get(k, 0) / n
    out["jvm.code_cache_mb"] = result["code_cache_mb"]
    fam_s = {f: 0.0 for f in FAMILIES}
    for o in traced:
        f = family(o["name"])
        if f:
            fam_s[f] += (o["t1_us"] - o["t0_us"]) / 1e6
    for f, v in fam_s.items():
        out[f"operators.{f}_s"] = v / n
    for k in ("jobs", "stages", "tasks", "task_s", "task_cpu_s",
              "sched_delay_s", "input_records", "input_mb",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "result_mb", "failed_tasks"):
        out[f"exec.{k}"] = c.get(f"exec.{k}", 0) / n
    busy = sum(op_seconds(traced))
    out["exec.slot_util"] = c.get("exec.task_s", 0) / max(
        1e-9, busy * result["cores"])
    for k in ("append", "merge", "merge_into", "delete", "update",
              "dv_delete", "compact", "vacuum", "snapshot", "prune"):
        out[f"table.{k}_s"] = span_s(f"table.{k}") / n
    out["table.checkpoint_s"] = c.get("table.checkpoint_s", 0) / n
    out["table.write_amp"] = c.get("table.bytes_written", 0) / max(
        1.0, c.get("table.bytes_logical", 0))
    out["table.log_kb_per_commit"] = c.get("table.log_kb", 0) / max(
        1, c.get("table.commits", 0))
    out["table.files_kept_frac"] = c.get("table.files_kept", 0) / max(
        1, c.get("table.files_seen", 0))
    for k in ("single_pass_merges", "sweep_distributed_files",
              "delta_parses", "checkpoint_loads", "bloom_footer_opens",
              "bloom_distributed_probes", "bloom_probe_timeouts"):
        out[f"table.{k}"] = c.get(f"table.{k}", 0) / n
    out["sources.sql_dml_s"] = span_s("sources.sql_dml") / n
    out["sources.read_s"] = span_s("sources.read") / n
    good = [o for o in traced if not failed(o, wrong_answers)]
    out["trace.overhead_frac"] = trace_overhead(good, plain)
    return out


def trace_overhead(traced, plain):
    """Untraced / traced ops/s - 1 on one mix: each op name (or, where no
    name runs both ways, each op kind) weighs by its count of ops, and
    its mean time traced is set against its mean time untraced."""
    for key in ("name", "kind"):
        groups = {}
        for o, t in zip(traced + plain, op_seconds(traced + plain)):
            groups.setdefault(o[key], ([], []))[not o["traced"]].append(t)
        both = [(a, b) for a, b in groups.values() if a and b]
        if both:
            return sum((len(a) + len(b)) * statistics.mean(a)
                       for a, b in both) / sum(
                (len(a) + len(b)) * statistics.mean(b)
                for a, b in both) - 1.0
    return 0.0
