"""Per-layer metrics of a traced run.

A traced run alternates traced and untraced calls. The workload's own
numbers and the per-query times come from the untraced calls; the layer
split comes from the traced ones: each span's self time (its duration
minus its children's) is charged to the layer its name starts with, plus
the engine's ScanEvents and CommitEvents, SparkListener task intervals
and streaming progress. Every run prints every metric; a layer the
workload does not exercise reads 0.
"""
import statistics

import gen
from metrics import error_rate, p50, primary_kinds, self_times, workload_metrics

LAYERS = ("client", "sqlext", "scan", "format", "plans", "spark", "commands", "streaming")
FORMS = ("eq", "in", "between", "range", "time_travel", "evolved")
DML = ("update", "delete", "scd1", "scd2")
STREAM_PHASES = {"batch": "triggerExecution", "add_batch": "addBatch",
                 "wal_commit": "walCommit", "latest_offset": "latestOffset"}
WORKLOAD_METRICS = {
    "lookup_p50_ms": "ms", "lookup_p90_ms": "ms", "lookup.sql_p50_ms": "ms",
    "lookup.api_p50_ms": "ms", "olap_pass_s": "s", "trainops_pass_s": "s",
    "lake_sql_pass_s": "s", "update_p50_ms": "ms", "delete_p50_ms": "ms",
    "scd1_p50_ms": "ms", "scd2_p50_ms": "ms", "ingest_rows_per_s": "1/s",
    "read_after_write_p50_ms": "ms", "write_amp": "ratio",
}


def names():
    """Every per-layer metric name with its unit, in print order."""
    m = dict(WORKLOAD_METRICS)
    m["error_rate"] = "ratio"
    m.update({f"self.{layer}_ms": "ms" for layer in LAYERS})
    m.update({
        "sqlext.resolve_ms_p50": "ms", "scan.plan_ms_p50": "ms", "scan.todf_ms_p50": "ms",
        "scan.files_matched_ratio": "ratio", "scan.rows_returned_per_row_scanned": "ratio",
    })
    m.update({f"scan.files_matched_ratio.{p}.{f}": "ratio" for p in ("sql", "api") for f in FORMS})
    m.update({
        "format.table_load_ms_p50": "ms", "format.manifest_cache_hit_ratio": "ratio",
        "format.commit_ms_p50": "ms", "format.commit_attempts_per_commit": "count",
        "format.manifests_per_snapshot": "count",
        "write.bytes_per_op": "B", "write.files_per_op": "count",
        "write.live_bytes_per_input_byte": "ratio",
    })
    for op in DML:
        m.update({f"commands.{op}.noncommit_ms_p50": "ms", f"commands.{op}.files_rewritten": "count",
                  f"commands.{op}.rows_rewritten_per_row_changed": "ratio"})
    m.update({f"streaming.{k}_ms_p50": "ms" for k in STREAM_PHASES})
    m.update({f"queries.{q}_ms_p50": "ms" for q in gen.OLAP + gen.TRAINOPS + tuple(gen.TWINS)})
    m.update({
        "spark.plan_ms_p50": "ms", "spark.work_ms": "ms", "spark.sched_ms": "ms",
        "spark.jobs_per_op": "count", "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
        "jvm.gc_ms": "ms", "jvm.heap_used_peak_mb": "MiB",
        "trace.overhead_pct": "%", "trace.selftime_residual_ms": "ms",
    })
    return m


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _ratio(a, b):
    return a / b if b else 0.0


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b) task intervals clipped to [lo, hi)."""
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_e is None or a > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + ((cur_e - cur_s) if cur_e is not None else 0)


def _layer(span_name, root):
    head = span_name.split(".")[0]
    return head if head in LAYERS and span_name != root else "client"


def per_layer(workload, result, bad, changed):
    ops = result["ops"]
    w = result["workload"]
    out = {k: 0.0 for k in names()}
    out.update({k: v for k, (v, _) in workload_metrics(workload, result, bad, changed).items()})
    out["error_rate"] = error_rate(len(ops), len(bad))

    timed = [op for i, op in enumerate(ops) if op["phase"] == "timed" and i not in bad]
    traced = [op for op in timed if op["traced"]]
    untraced = [op for op in timed if not op["traced"]]

    # span self time, charged to layers
    by_name, per_layer_ms, residual = {}, {layer: [] for layer in LAYERS}, 0.0
    for op in traced:
        st = self_times(op["spans"])
        acc = dict.fromkeys(LAYERS, 0.0)
        for name, ms in st:
            by_name.setdefault(name, []).append(ms)
            acc[_layer(name, op["kind"])] += ms
        for layer in LAYERS:
            per_layer_ms[layer].append(acc[layer])
        residual = max(residual, abs(sum(ms for _, ms in st) - op["ms"]))
    for layer in LAYERS:
        out[f"self.{layer}_ms"] = _mean(per_layer_ms[layer])
    out["trace.selftime_residual_ms"] = residual
    for metric, span in (("sqlext.resolve_ms_p50", "sqlext.resolve"), ("scan.todf_ms_p50", "scan.todf"),
                         ("format.table_load_ms_p50", "format.table_load"),
                         ("spark.plan_ms_p50", "spark.plan")):
        out[metric] = p50(by_name.get(span, []))

    # traced vs untraced p50 of the same kind of call, then the median over
    # kinds: the alternation would otherwise compare different call mixes
    by_call = {}
    for op in timed:
        if op["kind"] in primary_kinds(workload):
            by_call.setdefault((op["kind"], op["name"]), ([], []))[op["traced"]].append(op["ms"])
    ratios = [p50(t) / p50(u) for u, t in by_call.values() if t and u]
    if ratios:
        out["trace.overhead_pct"] = 100.0 * (p50(ratios) - 1.0)

    # scan: ScanEvents seen by traced calls
    scans = [(op, s) for op in traced for s in op["scans"]]
    out["scan.plan_ms_p50"] = p50([s["plan_ms"] for _, s in scans])
    out["scan.files_matched_ratio"] = _ratio(sum(s["matched_files"] for _, s in scans),
                                             sum(s["total_files"] for _, s in scans))
    looked = [op for op in traced if op["kind"] in ("lookup", "read") and op["scans"]
              and op["info"].get("kind", "lookup") == "lookup"]
    out["scan.rows_returned_per_row_scanned"] = _ratio(
        sum(op["info"]["rows"] for op in looked),
        sum(s["matched_records"] for op in looked for s in op["scans"]))
    for path in ("sql", "api"):
        for form in FORMS:
            ss = [s for op, s in scans if op["kind"] == "lookup"
                  and op["info"]["path"] == path and op["info"]["form"] == form]
            out[f"scan.files_matched_ratio.{path}.{form}"] = _ratio(
                sum(s["matched_files"] for s in ss), sum(s["total_files"] for s in ss))

    # format
    mc = w["manifest_cache"]
    out["format.manifest_cache_hit_ratio"] = _ratio(mc["hits"], mc["hits"] + mc["misses"])
    commits = [c for op in traced for c in op["commits"]] + w.get("stream_commits", [])
    out["format.commit_ms_p50"] = p50([c["elapsed_ms"] for c in commits])
    out["format.commit_attempts_per_commit"] = _mean([c["attempts"] for c in commits])
    out["format.manifests_per_snapshot"] = _mean([t["manifests"] for t in w["tables"].values()])

    # write / commands
    dml = [(i, op) for i, op in enumerate(ops)
           if op["kind"] in DML and op["phase"] == "timed" and i not in bad]
    out["write.bytes_per_op"] = _mean([op["info"]["added_bytes"] for _, op in dml])
    out["write.files_per_op"] = _mean([op["info"]["added_files"] for _, op in dml])
    start = w.get("tables_at_start", {})
    out["write.live_bytes_per_input_byte"] = _mean([
        _ratio(w["tables"][t]["bytes"] / max(w["tables"][t]["records"], 1),
               s["bytes"] / max(s["records"], 1)) for t, s in start.items()])
    for kind in DML:
        mine = [(i, op) for i, op in dml if op["kind"] == kind]
        out[f"commands.{kind}.noncommit_ms_p50"] = p50([
            op["ms"] - sum(c["elapsed_ms"] for c in op["commits"]) for _, op in mine if op["traced"]])
        out[f"commands.{kind}.files_rewritten"] = _mean([op["info"]["removed_files"] for _, op in mine])
        out[f"commands.{kind}.rows_rewritten_per_row_changed"] = _ratio(
            sum(op["info"]["added_records"] for _, op in mine), sum(changed.get(i, 0) for i, _ in mine))

    # streaming progress of every timed append
    batches = [b for op in timed if op["kind"] == "append" for b in op["info"]["batches"]]
    for k, phase in STREAM_PHASES.items():
        out[f"streaming.{k}_ms_p50"] = p50([b[phase] for b in batches if phase in b])

    # registry queries and twins, untraced samples
    for q in gen.OLAP + gen.TRAINOPS + tuple(gen.TWINS):
        out[f"queries.{q}_ms_p50"] = p50([op["ms"] for op in untraced
                                          if op["kind"] == "query" and op["name"] == q])

    # spark: SparkListener task intervals inside each traced call's window
    tl = result["timeline"]
    tasks = [tuple(t) for t in tl.get("tasks", [])]
    work, sched, jobs, stages, ntasks = [], [], [], [], []
    for op in traced:
        lo, hi = op["t0_ms"], op["t1_ms"]
        wk = _union_ms(tasks, lo, hi)
        plan = sum(by_span for name, by_span in self_times(op["spans"]) if name == "spark.plan")
        work.append(wk)
        sched.append(max(0.0, (hi - lo) - plan - wk))
        jobs.append(sum(1 for t in tl.get("jobs", []) if lo <= t < hi))
        stages.append(sum(1 for t in tl.get("stages", []) if lo <= t < hi))
        ntasks.append(sum(1 for a, b in tasks if lo <= a < hi))
    out["spark.work_ms"] = p50(work)
    out["spark.sched_ms"] = p50(sched)
    out["spark.jobs_per_op"] = _mean(jobs)
    out["spark.stages_per_op"] = _mean(stages)
    out["spark.tasks_per_op"] = _mean(ntasks)

    out["jvm.gc_ms"] = result["jvm"]["gc_ms"]
    out["jvm.heap_used_peak_mb"] = result["jvm"]["heap_used_peak_mb"]
    units = names()
    return {k: (float(out[k]), units[k]) for k in units}
