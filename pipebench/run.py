#!/usr/bin/env python3
"""pipebench: the benchmark of record for the graft library.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Builds the library and the harness
(build.py), generates the workload's inputs from the seed (gen.py),
starts one JVM with one local SparkSession that runs the workload's
closed loop (scala/pipebench), checks the outputs, and prints a detail
line with every metric followed by the compact JSON trailer as the last
line of stdout. With --trace 1 the trailer carries the per-layer metrics
and the spans are kept. See README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = tuple(gen.GENERATORS)
HEAP = "3g"
# The parallel collector: with G1 the spread of pass times across fresh
# JVMs was about twice as wide (and of peak RSS about five times). No
# perf-data file, which the JVM would otherwise write outside the checkout.
JVM_FLAGS = ["-XX:+UseParallelGC", "-XX:-UsePerfData"]
DEADLINE_S = 170  # the whole run, build excluded
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def inputs(workload, seed, out):
    """Generate the seed's inputs once per generator version (atomic
    rename)."""
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(out, "data", f"{workload}-{seed}-{version}")
    if not os.path.isdir(data):
        tmp = f"{data}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen.generate(workload, seed, tmp)
        os.replace(tmp, data)
    return data, gen.input_sizes(data)


def run_jvm(cp, workload, data, work, seconds, trace, cpus, timeout):
    result = os.path.join(work, "result.json")
    cmd = ["java", *OPENS, f"-Xmx{HEAP}", *JVM_FLAGS, f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "pipebench.Main", "--workload", workload,
           "--data", data, "--work", work, "--seconds", str(seconds),
           "--trace", str(trace), "--cpus", str(cpus), "--out", result]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout)
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the JVM did not finish within {timeout:.0f} s"
             if isinstance(e, subprocess.TimeoutExpired) else
             "terminated; the JVM was stopped", 3)
    if rc != 0 or not os.path.exists(result):
        fail(f"the JVM exited with {rc} and no result", 4)
    with open(result) as f:
        return json.load(f)


def duck_checks(workload, data, work):
    """The DuckDB recomputation of the last pass's panel features. A
    mismatch fails every features call (the JVM checks that all passes
    produce the same output). Returns (op name, ok, detail) triples."""
    if workload != "panel_pipeline":
        return []
    import duck
    ok, why = duck.check_features(
        os.path.join(data, "panel.parquet"),
        os.path.join(work, "main", "features.parquet"))
    return [("operators.features", ok, why)]


def loop_calls(rec, name=None):
    return [s for s in rec["spans"] if s["kind"] == "op" and s["pass"] >= 0
            and s["mode"] in ("timed", "first", "traced", "untraced")
            and (name is None or s["name"] == name)]


def wall(s):
    return (s["end"] - s["start"]) / 1e3


def end_to_end(rec):
    """Every end-to-end metric (BENCHMARK.json names) plus the detail
    figures the README defines."""
    calls = loop_calls(rec)
    detail = {}
    setup_s = rec["jvm_boot_s"] + rec["session_s"] + \
        stats.median(rec["setup_rounds_s"]) + rec["warmup_s"]
    passes = sorted({c["pass"] for c in calls})
    if rec["workload"] == "panel_pipeline":
        pass_s = [sum(wall(c) for c in calls if c["pass"] == p)
                  for p in passes]
        rows_per_s = rec["input_rows"] / stats.median(pass_s)
        latency = stats.median(pass_s) * 1e3
        quality = stats.median([c["counters"]["corr"]
                                for c in loop_calls(rec, "ml.predict")])
        detail["pass_s"] = pass_s
    else:
        index_s = [sum(wall(c) for c in calls
                       if c["pass"] == p and c["name"] != "sim.search")
                   for p in passes]
        searches = [wall(c) * 1e3 for c in loop_calls(rec, "sim.search")]
        rows_per_s = rec["input_rows"] / stats.median(index_s)
        latency = stats.median(searches)
        recall = [c["counters"]["recall"]
                  for c in loop_calls(rec, "sim.search")]
        quality = sum(recall) / len(recall)
        writes = [c for c in calls if c["name"] in (
            "sim.build", "sim.append", "streaming.apply_batch", "sim.load")]
        tail = stats.percentile_with_tail(searches)
        detail.update({
            "search_p50_ms": latency, "search_samples": len(searches),
            "search_tail_ms": tail,
            "index_rows_per_s": sum(c["counters"].get("rows", 0)
                                    for c in writes) /
            sum(wall(c) for c in writes),
            "recall_at_10": quality,
            "planted_near_dup_recall": stats.median(
                [c["counters"]["planted_recall"]
                 for c in loop_calls(rec, "dedup.components")]),
            "candidates_per_dup": sum(
                c["counters"]["candidates"]
                for c in loop_calls(rec, "dedup.minhash")) / max(1, sum(
                    c["counters"]["confirmed"]
                    for c in loop_calls(rec, "dedup.minhash"))),
            "curate_and_index_s": index_s})
    metrics = {"setup_s": setup_s, "rows_per_s": rows_per_s,
               "latency_p50_ms": latency, "quality": quality,
               "peak_rss_mb": rec["peak_rss_mb"]}
    return metrics, detail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        fail("run from the repository root (no BENCHMARK.json here)", 2)
    with open(spec_file) as f:
        spec = json.load(f)
    nproc = os.cpu_count()
    cpus = min(4, nproc)
    load_start = os.getloadavg()[0]
    if load_start > nproc / 2:
        print(f"pipebench: WARNING host loadavg {load_start:.2f} > nproc/2 "
              f"({nproc}/2); figures of this run are suspect",
              file=sys.stderr)
    out = os.path.join(root, ".bench_build")
    cp = build.build(root, out)  # exits non-zero without the sources
    t0 = time.time()
    data, sizes = inputs(a.workload, a.seed, out)
    work = os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        rec = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, cpus,
                      DEADLINE_S - 15 - (time.time() - t0))
        failed_ids = set(rec["failed_ids"])
        failures = list(rec["failures"])
        for op, ok, why in duck_checks(a.workload, data, work):
            if not ok:
                ids = [s["id"] for s in loop_calls(rec, op)]
                failed_ids.update(ids)
                failures.append(f"{op} (all {len(ids)} calls): DuckDB "
                                f"recomputation differs: {why}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = rec["attempted"], len(failed_ids)
    result = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "failed_ratio": failed / attempted, "failures": failures,
        "inputs": sizes, "heap_max_mb": rec["heap_max_mb"], "cpus": cpus,
        "nproc": nproc, "passes": rec["passes"], "loadavg_start": load_start,
        "loadavg_end": os.getloadavg()[0],
        "setup": {k: rec[k] for k in ("jvm_boot_s", "session_s",
                                      "setup_rounds_s", "warmup_s")}}
    if a.trace:
        # per-layer figures; end-to-end metrics come from untraced runs
        table = stats.op_table(stats.op_calls(rec, ("traced",)))
        result["per_op"] = {f"{op}.{k}": v for op, t in table.items()
                            for k, v in t.items()}
        result["overhead"] = stats.trace_overhead(rec)
        values, names = stats.engine_totals(table), spec["per_layer"]
    else:
        values, result["detail"] = end_to_end(rec)
        names = spec["end_to_end"]
    result["metrics"] = {m["name"]: {"value": values[m["name"]],
                                     "unit": m["unit"]} for m in names}
    keep = os.path.join(out, "results")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, f"{a.workload}-{a.seed}-trace{a.trace}"
                           ".json"), "w") as f:
        json.dump(dict(result, spans=rec["spans"],
                       probe=rec.get("probe")), f)
    print(json.dumps(result, separators=(",", ":")))
    print(stats.trailer(failed == 0, attempted, failed, result["metrics"]))


if __name__ == "__main__":
    main()
