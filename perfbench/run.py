"""flyqspark benchmark: one seeded workload per run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The run builds the library from source (perfbench/build.py), generates the
workload's inputs from the seed, evaluates the DuckDB twins of the queries
it checks, runs the workload in one JVM and prints, as its last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones, taken from spans and Spark's listener counters (see
perfbench/LAYERS.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build    # noqa: E402
import gen      # noqa: E402
import metrics  # noqa: E402
import oracle   # noqa: E402

JVM_TIMEOUT_S = 160

BROKER_QUERIES = [
    "consumer_lag", "consumer_lag_materialized", "consumer_lag_multi_topic",
    "consumer_lag_topic_filter", "watermarks", "partition_health",
    "lag_alerts", "segment_assignment", "consume_from_offset",
    "consume_with_group", "commit_offset_state", "retention_filter",
    "offset_assignment", "key_partitioner_xxh3", "log_compaction"]

# The workload definitions. `tail` is what op_tail_ms reports: ("mean", p)
# the mean of the samples beyond the p-th percentile, ("p", p) the p-th
# percentile itself; p is the highest that keeps ten samples beyond it in
# every run.
WORKLOADS = {
    # 2 replicas x 25k events (half sf0.1), measured in whole rounds of
    # the 15 queries (2 rounds = 30 samples). The queries differ in cost,
    # so the 30 samples fall into clusters, and a single order statistic
    # up there jumped between clusters from run to run: the tail is the
    # mean of the slowest third instead.
    "broker_analytics": {"tail": ("mean", 66), "events": (2, 25_000),
                         "twins": BROKER_QUERIES},
    # no file inputs: keys and values are drawn in the JVM from the seed
    "wire_rpc": {"tail": ("p", 90), "twins": []},
}

END_TO_END = ["setup_s", "op_p50_ms", "op_tail_ms", "ops_per_s"]
UNITS = {"setup_s": "s", "op_p50_ms": "ms", "op_tail_ms": "ms",
         "ops_per_s": "1/s"}

PER_LAYER = {
    "failed_ratio": "ratio", "trace.overhead_pct": "%",
    # broker_analytics
    "query_p50_ms": "ms", "query_p66_ms": "ms",
    "sources.log_snapshot_s": "s", "sources.events_scan_ms": "ms",
    "model.to_log_ms": "ms", "broker_ops.build_ms": "ms",
    "broker_ops.plan_ms": "ms", "broker_ops.exec_ms": "ms",
    **{f"broker_ops.{q}_ms": "ms" for q in BROKER_QUERIES},
    "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count", "spark.input_bytes_per_query": "B",
    "spark.shuffle_bytes_per_query": "B", "spark.gc_ms_per_query": "ms",
    # wire_rpc
    "produce_msgs_per_s": "1/s", "produce_p99_us": "us",
    "consume_msgs_per_s": "1/s", "consume_p99_us": "us",
    "bytes_stored_per_byte": "ratio",
    "client.heartbeat_rtt_us": "us", "server.produce_service_us": "us",
    "server.consume_service_us": "us", "client.tail_consume_us": "us",
    "consume.tail_hit_ratio": "ratio", "client.commit_us": "us",
    "client.lag_rpc_us": "us", "client.health_rpc_us": "us",
    "protocol.frame_bytes_per_payload_byte": "ratio",
    "storage.segments": "count", "storage.index_entries": "count",
}


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def slots():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_inputs(workload, seed):
    """Generate (or reuse) the seeded inputs; returns their directory."""
    w = WORKLOADS[workload]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = hashlib.sha256(f.read() + repr(w).encode()).hexdigest()[:8]
    d = os.path.join(build.OUT, "inputs", f"{workload}-{seed}-{tag}")
    if os.path.exists(os.path.join(d, "DONE")):
        return d
    os.makedirs(d, exist_ok=True)
    if "events" in w:
        reps, n = w["events"]
        gen.write(gen.events(seed, reps, n), os.path.join(d, "events.parquet"))
    open(os.path.join(d, "DONE"), "w").close()
    return d


def run_jvm(build_dir, jars, args, work):
    cmd = ["java", "-Xmx3g", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", build.classpath(build_dir, jars),
           "perfbench.Harness", *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    return rc


def end_to_end(workload, r):
    """The end-to-end metrics of one untraced measurement, plus the
    workload's own named figures (printed, not part of the contract)."""
    s, v = r["samples"], r["values"]
    tail = WORKLOADS[workload]["tail"]
    setup = v["jvm_start_s"] + metrics.median(s["setup_s"])
    if workload == "broker_analytics":
        op = s["op_ms"]
        rate = len(op) / v["op_ms_window_s"]
        named = {"query_p50_ms": metrics.percentile(op, 50),
                 "query_p66_ms": metrics.percentile(op, 66)}
    else:
        op = [x / 1e3 for x in s["op.produce_us"]]
        rate = len(op) / v["op.produce_window_s"]
        named = {
            "produce_msgs_per_s": rate,
            "produce_p99_us": metrics.percentile(s["op.produce_us"], 99),
            "consume_msgs_per_s": len(s["op.consume_us"]) / v["op.consume_window_s"],
            "consume_p99_us": metrics.percentile(s["op.consume_us"], 99),
            "bytes_stored_per_byte": v["op.bytes_stored_per_byte"]}
    kind, p = tail
    e2e = {"setup_s": setup, "op_p50_ms": metrics.percentile(op, 50),
           "op_tail_ms": (metrics.tail_mean if kind == "mean"
                          else metrics.percentile)(op, p),
           "ops_per_s": rate}
    return e2e, named, len(op)


def spark_by_span(spans, groups):
    """Spark counters of each span's subtree (its own job group plus its
    descendants'), keyed by span id."""
    kids = {}
    for sid, parent, *_ in spans:
        kids.setdefault(parent, []).append(sid)
    out = {}

    def total(sid):
        if sid not in out:
            acc = dict(groups.get(f"pb-{sid}", {}))
            for k in kids.get(sid, []):
                for name, x in total(k).items():
                    acc[name] = acc.get(name, 0) + x
            out[sid] = acc
        return out[sid]
    for sid, *_ in spans:
        total(sid)
    return out


def per_layer(workload, r, named, failed_ratio):
    s, v = r["samples"], r["values"]
    spans = [tuple(x[:5]) for x in r["spans"]]
    by_name = {}
    for sid, _p, name, t0, t1 in spans:
        by_name.setdefault(name, []).append((sid, (t1 - t0) / 1e3))
    self_us = metrics.self_times(spans)
    self_ms = {k: x / 1e3 for k, x in metrics.self_time_by_name(spans).items()}

    def span_ms(name):
        return metrics.median([d for _, d in by_name[name]])

    out = {k: 0.0 for k in PER_LAYER}
    out["failed_ratio"] = failed_ratio
    out.update(named)
    if workload == "broker_analytics":
        traced = s["traced_op_ms"]
        out["trace.overhead_pct"] = 100 * (metrics.median(traced) / metrics.median(s["op_ms"]) - 1)
        out["sources.log_snapshot_s"] = span_ms("sources.log_snapshot") / 1e3
        out["sources.events_scan_ms"] = span_ms("sources.events_scan")
        out["model.to_log_ms"] = span_ms("model.to_log")
        out["broker_ops.plan_ms"] = span_ms("broker_ops.plan")
        out["broker_ops.exec_ms"] = span_ms("broker_ops.exec")
        qspans = [(sid, name) for sid, _p, name, *_ in spans
                  if name[len("broker_ops."):] in BROKER_QUERIES]
        # a query span's self time is what plan and exec leave out:
        # building the DataFrame
        out["broker_ops.build_ms"] = metrics.median(
            [self_us[sid] / 1e3 for sid, _ in qspans])
        for q in BROKER_QUERIES:
            out[f"broker_ops.{q}_ms"] = span_ms(f"broker_ops.{q}")
        tot = spark_by_span(spans, r["groups"])
        n = len(qspans)
        for key, field in [("jobs", "jobs"), ("stages", "stages"),
                           ("tasks", "tasks"), ("input_bytes", "input_bytes"),
                           ("shuffle_bytes", "shuffle_write_bytes"),
                           ("gc_ms", "gc_ms")]:
            out[f"spark.{key}_per_query"] = sum(
                tot[sid].get(field, 0) for sid, _ in qspans) / n
    else:
        out["trace.overhead_pct"] = 100 * (
            metrics.median(s["traced_op.produce_us"]) / metrics.median(s["op.produce_us"]) - 1)
        hb = metrics.median(s["heartbeat_us"])
        out["client.heartbeat_rtt_us"] = hb
        out["server.produce_service_us"] = metrics.median(s["op.produce_us"]) - hb
        out["server.consume_service_us"] = metrics.median(s["op.consume_us"]) - hb
        out["client.tail_consume_us"] = metrics.median(s["op.tail_consume_us"])
        out["consume.tail_hit_ratio"] = v["op.tail_hits"] / v["op.tail_polls"]
        out["client.commit_us"] = metrics.median(s["op.commit_us"])
        out["client.lag_rpc_us"] = metrics.median(s["op.lag_rpc_us"])
        out["client.health_rpc_us"] = metrics.median(s["op.health_rpc_us"])
        out["protocol.frame_bytes_per_payload_byte"] = v["op.frame_bytes_per_payload_byte"]
        out["storage.segments"] = v["op.segments"]
        out["storage.index_entries"] = v["op.index_entries"]
    return out, self_ms


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    load_start = loadavg()
    try:
        build_dir, jars = build.ensure()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    inputs = prepare_inputs(a.workload, a.seed)
    twins = oracle.twins(os.path.join(build_dir, "oracle_sql.json"), inputs,
                         WORKLOADS[a.workload]["twins"])
    work = os.path.join(build.OUT, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    # write back what earlier runs and the input generation left dirty,
    # so the kernel does not flush it while this run is being timed
    os.sync()
    rc = run_jvm(build_dir, jars, [
        "--workload", a.workload, "--data", inputs, "--work", work,
        "--out", out, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--slots", str(slots()),
        "--launch-ms", str(int(time.time() * 1000)),
        "--twins", twins], work)
    with open(os.path.join(work, "jvm.log")) as f:
        log = f.read()
    sys.stderr.write("".join(ln + "\n" for ln in log.splitlines()
                             if ln.startswith("[perfbench")))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(log[-4000:])
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"workload JVM failed: exit {rc}")
    with open(out) as f:
        r = json.load(f)
    if a.trace:
        os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
        shutil.copy(out, os.path.join(build.OUT, "traces",
                                      f"{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    attempted, failed = r["attempted"], len(r["failures"])
    fr = metrics.failed_ratio(attempted, failed)
    e2e, named, n = end_to_end(a.workload, r)
    host = {"workload": a.workload, "seed": a.seed, "nproc": slots(),
            "loadavg_start": load_start, "loadavg_end": loadavg(),
            "heap_mb": r["info"]["heap_mb"], "jvm": r["info"]["jvm"],
            "spark": r["info"]["spark"],
            "source_hash": os.path.basename(build_dir),
            "op_samples": n}
    print("host " + json.dumps(host))
    for k, x in {**e2e, **named, "failed_ratio": fr}.items():
        unit = UNITS.get(k) or PER_LAYER.get(k)
        print(f"{a.workload} {k} = {x:.6g} {unit}")
    for msg in r["failures"][:20]:
        print(f"FAILED {msg}")
    if a.trace:
        layer, self_ms = per_layer(a.workload, r, named, fr)
        for k, x in sorted(self_ms.items()):
            print(f"{a.workload} self_ms {k} = {x:.6g}")
        shown = {k: {"value": layer[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        shown = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
