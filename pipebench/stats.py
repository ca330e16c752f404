"""The benchmark's arithmetic: percentiles with their sample count,
interval unions, span self time and driver gap, the per-op table of a
traced run, and the trailer format. Pure functions over the run record
the JVM writes (see scala/pipebench/Main.scala); tested by test_stats.py.
"""
import json
import math
import statistics

# Kinds of the per-op table, and the engine totals built from them.
OP_KINDS = ["busy_s", "self_s", "jobs", "tasks", "cpu_s", "run_s", "gc_s",
            "shuffle_mb", "plan_s", "gap_s"]
TRAILER_KEYS = ("correct", "attempted", "failed", "metrics")


def median(xs):
    xs = [x for x in xs if x is not None and not math.isnan(x)]
    return statistics.median(xs) if xs else float("nan")


def percentile_with_tail(samples, q=0.95, tail=10):
    """The q-th percentile, or the highest whole percentile below it that
    still has at least `tail` samples beyond it; None when even the
    median lacks them. Nearest-rank definition. Returns
    {"pct": p, "value": v, "n": len(samples)}."""
    xs = sorted(samples)
    n = len(xs)
    # rank r (1-based) leaves n - r samples beyond it
    for pct in range(int(round(q * 100)), 49, -1):
        r = max(1, math.ceil(pct / 100.0 * n))
        if n - r >= tail:
            return {"pct": pct, "value": xs[r - 1], "n": n}
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count
    once, empty or reversed intervals not at all."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals]


def self_time(span, children):
    """Span duration minus the part of it its children cover (ms)."""
    return (span["end"] - span["start"]) - union_length(
        clip([(c["start"], c["end"]) for c in children],
             span["start"], span["end"]))


def gap_time(span, jobs):
    """Span duration minus the union of its jobs' intervals (ms): driver
    work plus scheduling gaps between jobs."""
    return (span["end"] - span["start"]) - union_length(
        clip([(j["start"], j["end"]) for j in jobs],
             span["start"], span["end"]))


def descendants(span_id, children_of):
    out, todo = [], [span_id]
    while todo:
        kids = children_of.get(todo.pop(), [])
        out += kids
        todo += [k["id"] for k in kids]
    return out


def op_calls(record, modes):
    """One row per op call whose span mode is in `modes`: the OP_KINDS
    (from the probe's jobs, stages and queries where the run was traced)
    plus the op's counters."""
    spans = record["spans"]
    children_of = {}
    for s in spans:
        children_of.setdefault(s["parent"], []).append(s)
    probe = record.get("probe") or {}
    jobs_by_span = {}
    for j in probe.get("jobs", []):
        jobs_by_span.setdefault(j["span"], []).append(j)
    stages_by_job = {}
    for st in probe.get("stages", []):
        stages_by_job.setdefault(st["job"], []).append(st)
    queries = probe.get("queries", [])
    rows = []
    for s in spans:
        if s["kind"] != "op" or s["mode"] not in modes:
            continue
        ids = [s["id"]] + [d["id"] for d in descendants(s["id"],
                                                        children_of)]
        jobs = [j for i in ids for j in jobs_by_span.get(i, [])]
        stages = [st for j in jobs for st in stages_by_job.get(j["id"], [])]
        row = {"name": s["name"], "pass": s["pass"], "mode": s["mode"],
               "busy_s": (s["end"] - s["start"]) / 1e3,
               "self_s": self_time(s, children_of.get(s["id"], [])) / 1e3,
               "jobs": len(jobs),
               "tasks": sum(st["tasks"] for st in stages),
               "cpu_s": sum(st["cpu_s"] for st in stages),
               "run_s": sum(st["run_s"] for st in stages),
               "gc_s": sum(st["gc_s"] for st in stages),
               "shuffle_mb": sum(st["shuffle_read_mb"] + st["shuffle_write_mb"]
                                 for st in stages),
               "input_records": sum(st["input_records"] for st in stages),
               "plan_s": sum(q["plan_s"] for q in queries
                             if s["start"] <= q["at"] <= s["end"]),
               "gap_s": gap_time(s, jobs) / 1e3}
        row.update(s["counters"])
        rows.append(row)
    return rows


def op_table(calls):
    """Per op name, the median per call of every OP_KIND, the call count,
    and the two ratios where their counters exist."""
    table = {}
    for name in sorted({c["name"] for c in calls}):
        mine = [c for c in calls if c["name"] == name]
        t = {k: median([c[k] for c in mine]) for k in OP_KINDS}
        t["calls"] = len(mine)
        if all("candidates" in c for c in mine):
            t["candidates_per_dup"] = sum(c["candidates"] for c in mine) / \
                max(1, sum(c["confirmed"] for c in mine))
        if all("result_rows" in c for c in mine):
            t["rows_per_result"] = sum(c["input_records"] for c in mine) / \
                max(1, sum(c["result_rows"] for c in mine))
        table[name] = t
    return table


def engine_totals(table):
    """The per-layer metrics of record: each OP_KIND summed over one call
    of every op, so runs with different call counts compare."""
    names = {"busy_s": "ops.busy_s", "self_s": "ops.self_s",
             "jobs": "spark.jobs", "tasks": "spark.tasks",
             "cpu_s": "spark.cpu_s", "run_s": "spark.run_s",
             "gc_s": "spark.gc_s", "shuffle_mb": "spark.shuffle_mb",
             "plan_s": "spark.plan_s", "gap_s": "driver.gap_s"}
    return {names[k]: sum(t[k] for t in table.values()) for k in OP_KINDS}


def trace_overhead(record):
    """Traced minus untraced wall time of one call of every op that has
    calls of both kinds (s): the sum over ops of the median difference."""
    calls = op_calls(record, ("traced", "untraced"))
    total, ops = 0.0, []
    for name in sorted({c["name"] for c in calls}):
        t = [c["busy_s"] for c in calls if c["name"] == name
             and c["mode"] == "traced"]
        u = [c["busy_s"] for c in calls if c["name"] == name
             and c["mode"] == "untraced"]
        if t and u:
            total += median(t) - median(u)
            ops.append(name)
    return {"overhead_s": total, "ops": ops}


def trailer(correct, attempted, failed, metrics):
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics},
                      separators=(",", ":"))


def parse_trailer(stdout):
    """The result object on the last non-empty line of `stdout`; raises
    ValueError unless it has exactly the trailer keys and sane values."""
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("no output")
    obj = json.loads(lines[-1])
    if not isinstance(obj, dict) or tuple(sorted(obj)) != \
            tuple(sorted(TRAILER_KEYS)):
        raise ValueError(f"trailer keys: {sorted(obj)}")
    if not (isinstance(obj["attempted"], int) and obj["attempted"] >= 1
            and isinstance(obj["failed"], int)
            and isinstance(obj["correct"], bool)):
        raise ValueError("attempted/failed/correct malformed")
    for name, m in obj["metrics"].items():
        if sorted(m) != ["unit", "value"] or \
                not isinstance(m["value"], (int, float)):
            raise ValueError(f"metric {name} malformed")
    return obj
