"""Metrics from the benchmark process's record of one run.

Pure functions over plain data, so the rules can be tested without a
session: percentiles, span self times, error counting, and the end-to-end
and per-layer metric sets.
"""
import math
import statistics

import gen

MIN_BEYOND = 10  # samples a reported percentile must have above it


def percentile(values, p):
    """Nearest-rank percentile (p in (0, 1])."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tail_rank(n, want=0.9, min_beyond=MIN_BEYOND):
    """The highest percentile up to `want` that leaves at least
    `min_beyond` of `n` samples above it (never below the median)."""
    if n <= 0:
        return None
    return max(0.5, min(want, (n - min_beyond) / n))


def tail(values, want=0.9):
    rank = tail_rank(len(values), want)
    return p50(values) if rank <= 0.5 else percentile(values, rank)


def p50(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Per span: its duration minus what its direct children cover. The
    sum over one op's spans equals its root span's duration."""
    covered = [0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            covered[s["parent"]] += s["end_ns"] - s["start_ns"]
    return [(s["name"], (s["end_ns"] - s["start_ns"] - c) / 1e6) for s, c in zip(spans, covered)]


def failures(ops, wrong):
    """Indexes of failed ops: raised, or answered wrong."""
    return {i for i, op in enumerate(ops) if op["error"] is not None} | set(wrong)


def error_rate(attempted, failed):
    return failed / attempted if attempted else 1.0


def setup_s(result):
    """Process start to first timed call: JVM start, session start, the
    table build, and warm-up."""
    w = result["workload"]
    return result["jvm_boot_s"] + result["session_s"] + w["build_s"] + w["warmup_s"]


def _good(ops, bad, kinds):
    """The untraced timed calls of these kinds that did not fail."""
    return [op for i, op in enumerate(ops) if i not in bad and op["kind"] in kinds
            and op["phase"] == "timed" and not op["traced"]]


def primary_kinds(workload):
    return {"point_reads": ("lookup",), "analytics": ("query",),
            "dml_ingest": ("append", "update", "delete", "scd1", "scd2")}[workload]


def cycle(workload, op):
    """The repetition of the workload's fixed call mix an op belongs to: a
    block of the lookup mix, a pass over the queries, a DML round."""
    if workload == "point_reads":
        return op["info"]["id"] // gen.MIX_BLOCK
    return op["info"]["pass" if workload == "analytics" else "round"]


CYCLE_SIZE = {"point_reads": gen.MIX_BLOCK,
              "analytics": len(gen.OLAP + gen.TRAINOPS + tuple(gen.TWINS)),
              "dml_ingest": len(primary_kinds("dml_ingest"))}


def end_to_end(workload, result, bad):
    """The gated metrics: set-up time, and the median and mean wall of the
    workload's calls (lookups; registry and twin queries; commits), taken
    over the run's complete cycles of the call mix without a failed call,
    so the mix is exact; with no such cycle, over every good call."""
    timed = [(i, op) for i, op in enumerate(result["ops"]) if op["phase"] == "timed"
             and not op["traced"] and op["kind"] in primary_kinds(workload)]
    cycles = {}
    for i, op in timed:
        cycles.setdefault(cycle(workload, op), []).append(i)
    ms = [result["ops"][i]["ms"] for c in cycles.values()
          if len(c) == CYCLE_SIZE[workload] and not bad.intersection(c) for i in c]
    ms = ms or [op["ms"] for i, op in timed if i not in bad]
    return {
        "setup_s": (setup_s(result), "s"),
        "call_p50_ms": (p50(ms), "ms"),
        "call_mean_ms": (statistics.fmean(ms) if ms else 0.0, "ms"),
    }


def workload_metrics(workload, result, bad, changed):
    """The workload's own numbers, from untraced timed calls."""
    ops = result["ops"]
    out = {}
    if workload == "point_reads":
        lookups = _good(ops, bad, ("lookup",))
        ms = [op["ms"] for op in lookups]
        out["lookup_p50_ms"] = (p50(ms), "ms")
        out["lookup_p90_ms"] = (tail(ms) if ms else 0.0, "ms")
        for path in ("sql", "api"):
            out[f"lookup.{path}_p50_ms"] = (p50([op["ms"] for op in lookups if op["info"]["path"] == path]),
                                            "ms")
    if workload == "analytics":
        # a pass over a group: the sum of its queries' median walls
        queries = _good(ops, bad, ("query",))
        for g, qs in (("olap", gen.OLAP), ("trainops", gen.TRAINOPS), ("lake_sql", gen.TWINS)):
            out[f"{g}_pass_s"] = (sum(p50([op["ms"] for op in queries if op["name"] == q])
                                      for q in qs) / 1e3, "s")
    if workload == "dml_ingest":
        for kind in ("update", "delete", "scd1", "scd2"):
            out[f"{kind}_p50_ms"] = (p50([op["ms"] for op in _good(ops, bad, (kind,))]), "ms")
        appends = _good(ops, bad, ("append",))
        secs = sum(op["ms"] for op in appends) / 1e3
        out["ingest_rows_per_s"] = (sum(op["info"]["rows"] for op in appends) / secs if secs else 0.0, "1/s")
        out["read_after_write_p50_ms"] = (p50([op["ms"] for op in _good(ops, bad, ("read",))]),
                                          "ms")
        commits = [(i, op) for i, op in enumerate(ops) if i in changed and i not in bad
                   and op["phase"] == "timed" and not op["traced"]]
        written = sum(op["info"].get("added_bytes", 0) for _, op in commits
                      if op["kind"] != "append")
        user = sum(changed[i] * op["info"]["bytes_per_row"] for i, op in commits
                   if op["kind"] != "append")
        out["write_amp"] = (written / user if user else 0.0, "ratio")
    return out
