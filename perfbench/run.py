#!/usr/bin/env python3
"""Benchmark entry point. From the root of a checkout:

    python3 perfbench/run.py --workload jobs_stream --seed 1 --seconds 27 --trace 0

Builds the program with the harness (once per source tree), generates the
workload's inputs from the seed, runs the harness JVM, checks every output,
prints each metric with its unit and sample count, and ends with one JSON
line: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics (tracing off); `--trace 1` the per-layer metrics, from
spans and a per-job-group task ledger, plus the tracing overhead. Exits 1
when an output check fails, 2 when the run cannot be made at all.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from stats import lateness_ms, median, self_times, tail, union_length  # noqa: E402

WORKLOADS = ("jobs_stream", "curation")
CORES = 4
# A fixed heap size, so that the collector's timing does not change with the
# heap it happened to grow to.
HEAP = "1536m"
STREAM_SLO_MS = 10000.0  # a streamed request later than this misses its limit
JVM_TIMEOUT_S = 150
QUERIES = ("q_dsir_incremental", "q_sb_assign", "q_sb_score")
JOB_KINDS = ("market", "historical", "index")
# The bounded metrics of BENCHMARK.json. The tail, throughput and memory
# figures are printed beside them with no bound (see README.md for why).
END_TO_END = {"latency_p50_ms": "ms", "setup_s": "s"}


def per_layer_units():
    u = {
        "spark.jobs_per_req": "count", "spark.stages_per_req": "count",
        "spark.tasks_per_req": "count", "spark.driver_ms_per_req": "ms",
        "spark.task_covered_ms_per_req": "ms", "spark.wall_ms_per_req": "ms",
        "spark.cpu_ms": "ms", "spark.task_ms": "ms", "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes", "spark.gc_ms": "ms",
        "tables.input_rows": "count", "tables.input_bytes": "bytes",
        "incremental.requested_keys": "count", "incremental.missing_keys": "count",
        "incremental.miss_share": "ratio", "merge.upsert_ms": "ms", "merge.store_rows": "count",
        "sources.fetched_rows": "count", "relational.rejected_rows": "count",
        "streaming.batches": "count", "streaming.reqs_per_batch": "count",
        "streaming.queue_wait_ms_p50": "ms", "streaming.queue_wait_ms_max": "ms",
        "streaming.batch_ms": "ms", "streaming.parse_ms": "ms", "streaming.rejected_msgs": "count",
        "jdbc.upsert_ms": "ms", "jdbc.rows": "count", "gen.max_late_ms": "ms",
        "harness.self_ms": "ms", "trace.overhead_ms": "ms", "trace.overhead_pct": "%",
        "host.steal_pct": "%", "host.load1": "count", "host.cores": "count",
        "jvm.peak_rss_mb": "MB", "jvm.live_heap_peak_mb": "MB",
    }
    for k in JOB_KINDS:
        u[f"jobs.{k}.call_ms"] = "ms"
        u[f"jobs.{k}.completion_ms"] = "ms"
    for q in QUERIES:
        u[f"q.{q}_s"] = "s"
        u[f"q.{q}.cpu_ms"] = "ms"
        u[f"q.{q}.shuffle_write_bytes"] = "bytes"
        u[f"q.{q}.shuffle_read_bytes"] = "bytes"
    return u


PER_LAYER = per_layer_units()


def proc_stat():
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            parts = [int(x) for x in f.readline().split()[1:]]
        return (parts[7] if len(parts) > 7 else 0), sum(parts)
    except OSError:
        return 0, 0


def host_record(before, after):
    steal, total = after[0] - before[0], after[1] - before[1]
    try:
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
    except OSError:
        load1 = 0.0
    return {"host.steal_pct": 100.0 * steal / total if total > 0 else 0.0,
            "host.load1": load1, "host.cores": len(os.sched_getaffinity(0))}


def run_jvm(root, classes, spec_path, result_path, work):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(root), "*")])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
            f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop"]
           + build.ADD_OPENS + ["-cp", cp, "graftbench.Main", spec_path, result_path])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("harness JVM timed out")
    if code != 0:
        with open(f"{work}/jvm.log") as f:
            tail_lines = f.read()[-3000:]
        raise RuntimeError(f"harness JVM exited {code}:\n{tail_lines}")
    with open(result_path) as f:
        return json.load(f)


# ---------------------------------------------------------------- reduction

def end_to_end(res, latencies, completed, busy_s, samples):
    """The bounded metrics, their notes, and the unbounded figures printed
    beside them. `samples` is the number of independent latency samples
    (micro-batches or passes)."""
    m = {
        "latency_p50_ms": median(latencies),
        "setup_s": res["boot_s"] + median(res["setup_reps_s"]) + res["warmup_s"],
    }
    notes = {"latency_p50_ms": f"n={len(latencies)}, {samples} independent",
             "setup_s": f"boot {res['boot_s']:.2f} s + median of {len(res['setup_reps_s'])} "
                        f"set-ups {median(res['setup_reps_s']):.2f} s + warm-up "
                        f"{res['warmup_s']:.2f} s"}
    value, pct, n = tail(latencies)
    info = [f"latency_tail_ms = {value:.4f} ms (p{pct:.1f}, n={n}, {samples} independent)",
            f"throughput_rps = {completed / busy_s if busy_s > 0 else 0.0:.4f} 1/s (n={completed})",
            f"peak_rss_mb = {res['vm_hwm_kb'] / 1024.0:.1f} MB (VmHWM)",
            f"live_heap_peak_mb = {res['live_heap_peak_mb']:.1f} MB (heap after major GC)"]
    return m, notes, info


def stream_latencies(res):
    """(latency per completed timed request, completed, window s, failed,
    micro-batches that completed them). Requests served by one micro-batch
    share its completion time, so the batches are the independent samples."""
    done = res["done"]
    lat, failed = [], 0
    for m in res["sent"]:
        if m["req"] is None:
            continue
        if m["req"] in done:
            lat.append(done[m["req"]] - m["due_ms"])
        else:
            failed += 1
    window = max(done.values()) / 1e3 if done else 0.0
    return lat, len(lat), window, failed, len(set(done.values()))


def curation_ops(res):
    """One operation is one pass: the sum of its query times."""
    lat = [sum(q["end_ms"] - q["start_ms"] for q in p["queries"]) for p in res["passes"]]
    return lat, len(lat), sum(lat) / 1e3


def spans_by(res, name, ops):
    return [s["end_ms"] - s["start_ms"] for s in res["spans"] if s["name"] == name and s["op"] in ops]


def ledger(res, groups):
    """Per-group sums of the task ledger over `groups`."""
    tasks = [t for t in res.get("tasks", []) if t[0] in groups]
    col = lambda i: sum(t[i] for t in tasks)  # noqa: E731
    return {"tasks": len(tasks), "task_ms": col(3), "cpu_ms": col(4), "gc_ms": col(5),
            "shuffle_write_bytes": col(6), "shuffle_read_bytes": col(7), "spill_bytes": col(8),
            "input_bytes": col(9), "input_rows": col(10)}


def spark_layer(res, ops):
    """Scheduling and executor metrics per traced operation; `ops` maps each
    operation id to (its job groups, start_ms, end_ms)."""
    if not ops:
        return {}
    out = {k: 0.0 for k in ("jobs", "stages", "tasks", "driver", "covered", "wall", "cpu_ms",
                            "task_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                            "spill_bytes", "gc_ms", "input_rows", "input_bytes")}
    probes = {}
    for s in res["spans"]:
        if s["name"].startswith("probe."):
            probes.setdefault(s["op"], []).append((s["start_ms"], s["end_ms"]))
    for op, (groups, start, end) in ops.items():
        covered = union_length([(t[1], t[2]) for t in res["tasks"] if t[0] in groups], start, end)
        wall = (end - start) - union_length(probes.get(op, []), start, end)
        led = ledger(res, groups)
        out["jobs"] += sum(res["groups"].get(x, {}).get("jobs", 0) for x in groups)
        out["stages"] += sum(res["groups"].get(x, {}).get("stages", 0) for x in groups)
        out["covered"] += covered
        out["wall"] += wall
        out["driver"] += wall - covered
        for k in ("tasks", "cpu_ms", "task_ms", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "gc_ms", "input_rows", "input_bytes"):
            out[k] += led[k]
    n = len(ops)
    m = {f"spark.{k}": out[k] / n for k in ("cpu_ms", "task_ms", "shuffle_write_bytes",
                                             "shuffle_read_bytes", "spill_bytes", "gc_ms")}
    m.update({"spark.jobs_per_req": out["jobs"] / n, "spark.stages_per_req": out["stages"] / n,
              "spark.tasks_per_req": out["tasks"] / n, "spark.driver_ms_per_req": out["driver"] / n,
              "spark.task_covered_ms_per_req": out["covered"] / n,
              "spark.wall_ms_per_req": out["wall"] / n,
              "tables.input_rows": out["input_rows"] / n, "tables.input_bytes": out["input_bytes"] / n})
    return m


def job_layer(res, calls, traced_ops):
    """Job, incremental, merge and source metrics over traced job calls."""
    m = {}
    for k in JOB_KINDS:
        m[f"jobs.{k}.call_ms"] = median(spans_by(res, f"jobs.{k}.call", traced_ops))
        m[f"jobs.{k}.completion_ms"] = median(spans_by(res, f"jobs.{k}.completion", traced_ops))
    traced = [c for c in calls if "missing" in c]
    if traced:
        req = sum(c["requested"] for c in traced)
        miss = sum(c["missing"] for c in traced)
        m.update({"incremental.requested_keys": req / len(traced),
                  "incremental.missing_keys": miss / len(traced),
                  "incremental.miss_share": miss / req if req else 0.0,
                  "merge.store_rows": sum(c["store_rows"] for c in traced) / len(traced),
                  "sources.fetched_rows": sum(c["fetched"] for c in traced) / len(traced)})
    m["merge.upsert_ms"] = median(spans_by(res, "merge.upsert", traced_ops))
    return m


def harness_self(res):
    """Median self time of the micro-batch spans: the part of a batch no
    layer span covers (harness bookkeeping)."""
    own = self_times(res["spans"])
    return {"harness.self_ms": median([own[s["id"]] for s in res["spans"] if s["name"] == "batch"])}


def overhead(traced, untraced):
    if not traced or not untraced:
        return {}
    t, u = median(traced), median(untraced)
    return {"trace.overhead_ms": t - u, "trace.overhead_pct": 100.0 * (t - u) / u if u else 0.0}


def reduce_stream(res, spec):
    lat, n, window, failed, batches = stream_latencies(res)
    e2e, notes, info = end_to_end(res, lat, n, window, batches)
    late = sum(1 for x in lat if x > STREAM_SLO_MS) + failed
    attempted = n + failed
    info.append(f"slo_miss_frac = {late / attempted if attempted else 0.0:.4f} "
                f"(limit {STREAM_SLO_MS:.0f} ms, {late} of {attempted})")
    by_id = {r["req"]: r for r in spec["requests"]}
    batch_of = {}
    calls = []
    for b in res["batches"]:
        for g in b["groups"][1:]:
            for q in g["reqs"]:
                batch_of[q] = b
            c = dict(g)
            keys = set()
            for q in g["reqs"]:
                r = by_id[q]
                keys.update(map(tuple, r["assets"]) if "assets" in r else r["symbols"])
            c["requested"] = len(keys)
            p = json.loads(g["payload"][0])
            c["fetched"] = p["record_count"] if p["status"] != "complete_cached" else 0
            calls.append(c)
    layer = {}
    if spec["trace"]:
        traced = {f"b{b['id']}": ([f"b{b['id']}"], b["start_ms"], b["end_ms"])
                  for b in res["batches"] if b["traced"]}
        layer.update(spark_layer(res, traced))
        layer.update(job_layer(res, calls, set(traced)))
        layer.update(harness_self(res))
        t0 = res["t0_ms"]
        waits = [b["start_ms"] - t0 - m["due_ms"] for m in res["sent"]
                 if m["req"] in batch_of for b in [batch_of[m["req"]]]]
        nreq = [sum(len(g["reqs"]) for g in b["groups"][1:]) for b in res["batches"]]
        layer.update({
            "streaming.batches": len(res["batches"]),
            "streaming.reqs_per_batch": sum(nreq) / len(nreq) if nreq else 0.0,
            "streaming.queue_wait_ms_p50": median(waits),
            "streaming.queue_wait_ms_max": max(waits, default=0.0),
            "streaming.batch_ms": median([b["end_ms"] - b["start_ms"] for b in res["batches"]]),
            "streaming.parse_ms": median(spans_by(res, "streaming.parse", set(traced))),
            "streaming.rejected_msgs": sum(1 for m in res["sent"] if m["req"] is None),
            "relational.rejected_rows": sum(b["groups"][0]["rejected"] for b in res["batches"]),
            "jdbc.upsert_ms": median(spans_by(res, "jdbc.upsert", set(traced))),
            "jdbc.rows": sum(g["jdbc_rows"] for b in res["batches"] if b["traced"]
                             for g in b["groups"][1:]) / max(1, len(traced)),
            "gen.max_late_ms": lateness_ms(res["sent"]),
        })
        lat_by = {}
        for m in res["sent"]:
            if m["req"] in res["done"]:
                lat_by.setdefault(batch_of[m["req"]]["traced"], []).append(
                    res["done"][m["req"]] - m["due_ms"])
        layer.update(overhead(lat_by.get(True, []), lat_by.get(False, [])))
    return e2e, notes, info, layer, attempted, failed


def reduce_curation(res, spec):
    lat, n, busy = curation_ops(res)
    e2e, notes, info = end_to_end(res, lat, n, busy, n)
    suites = [x / 1e3 for x in lat]
    info.append(f"suite_s = {median(suites):.4f} s (median of {len(suites)} passes)")
    layer = {}
    if spec["trace"]:
        runs = {f"q:{q['name']}:{p['pass']}": ([f"q:{q['name']}:{p['pass']}"], q["start_ms"], q["end_ms"])
                for p in res["passes"] if p["traced"] for q in p["queries"]}
        layer.update(spark_layer(res, runs))
        for q in QUERIES:
            layer[f"q.{q}_s"] = median([(x["end_ms"] - x["start_ms"]) / 1e3 for p in res["passes"]
                                        for x in p["queries"] if x["name"] == q])
            traced = [p for p in res["passes"] if p["traced"]]
            led = ledger(res, {f"q:{q}:{p['pass']}" for p in traced})
            for k in ("cpu_ms", "shuffle_write_bytes", "shuffle_read_bytes"):
                layer[f"q.{q}.{k}"] = led[k] / max(1, len(traced))
        layer.update(overhead([x for x, p in zip(lat, res["passes"]) if p["traced"]],
                              [x for x, p in zip(lat, res["passes"]) if not p["traced"]]))
    return e2e, notes, info, layer, n, 0


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        classes = build.build(root)
    except (FileNotFoundError, RuntimeError) as e:
        print(f"cannot build the program: {e}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".bench_build", "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = gen.generate(args.workload, args.seed, args.seconds, work)
    spec.update({"trace": bool(args.trace), "work": work, "cores": min(CORES, os.cpu_count())})
    with open(f"{work}/spec.json", "w") as f:
        json.dump(spec, f)
    before = proc_stat()
    try:
        res = run_jvm(root, classes, f"{work}/spec.json", f"{work}/result.json", work)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 2
    host = host_record(before, proc_stat())
    host.update({"jvm.peak_rss_mb": res["vm_hwm_kb"] / 1024.0,
                 "jvm.live_heap_peak_mb": res["live_heap_peak_mb"]})

    problems, unchecked = [], []
    if args.workload == "curation":
        e2e, notes, info, layer, attempted, failed = reduce_curation(res, spec)
        wrong, unchecked = checks.check_curation(res, spec)
        problems += wrong
        checked = f"checked {len(res['oracles']) - len(unchecked)} queries against their DuckDB oracles"
        # a wrong query counts every one of its timed executions as failed
        failed += len(wrong) * len(res["passes"])
    else:
        e2e, notes, info, layer, attempted, failed = reduce_stream(res, spec)
        calls, problems = checks.check_jobs(res, spec)
        checked = f"checked {calls} job calls and the final stores against the recomputation"
        failed += len(problems)
    failed = min(failed, attempted)
    correct = not problems and failed == 0

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  cores {spec['cores']}")
    print("session pins: " + ", ".join(f"{k}={v}" for k, v in sorted(res["pins"].items())))
    print("host: " + ", ".join(f"{k.split('.')[1]}={v:.2f}" for k, v in host.items()
                               if k.startswith("host.")))
    print(checked)
    for p in problems[:20]:
        print(f"CHECK FAILED {p}")
    for name, why in unchecked:
        print(f"UNCHECKED {name}: {why}")
    print(f"fail_frac = {failed / attempted if attempted else 0.0:.4f} ({failed} of {attempted})")
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {END_TO_END[k]}" + (f" ({notes[k]})" if k in notes else ""))
    for line in info:
        print(line)
    if args.trace:
        layer.update(host)
        layer = {k: float(layer.get(k, 0.0)) for k in PER_LAYER}
        for k, v in layer.items():
            print(f"  {k} = {v:.4f} {PER_LAYER[k]}")
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if correct:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
