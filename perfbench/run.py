#!/usr/bin/env python3
"""Pipeline benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload lake_daily --seed 1 --seconds 1 --trace 0

It builds the program from source (first run only), generates the
workload's inputs from the seed, runs the workload in one JVM for the
given number of seconds, checks the outputs, and prints every metric with
its unit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Why each
workload and metric exists is in perfbench/README.md.
"""

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

ROOT = build.ROOT
WORK_ROOT = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 160

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_doc": "B/doc",
}

# Per-layer metrics: every layer gets wall and self time; the layers that
# move data also get their work counters.
SPAN_LAYERS = [
    "pipeline.ingest", "sources.read", "functions.transform", "functions.clean",
    "functions.locate", "functions.label", "operators.lake_merge", "pipeline.backfill",
    "pipeline.rollup", "lake.read", "queries.q_curation_e2e",
    "queries.q_jaccard_prefix_pairs", "queries.q_minhash_pairs", "streaming.round",
]
DATA_LAYERS = [
    "sources.read", "functions.transform", "operators.lake_merge", "pipeline.backfill",
    "pipeline.rollup", "lake.read", "queries.q_curation_e2e",
    "queries.q_jaccard_prefix_pairs", "queries.q_minhash_pairs", "streaming.round",
]
SPAN_UNITS = {"wall_s": "s", "self_s": "s", "jobs": "count", "task_busy_s": "s",
              "input_bytes": "B", "shuffle_read_b": "B", "shuffle_write_b": "B",
              "spill_b": "B", "task_max_ms": "ms", "task_p50_ms": "ms"}
DATA_METRICS = ["jobs", "task_busy_s", "input_bytes", "shuffle_read_b", "shuffle_write_b",
                "spill_b", "task_max_ms", "task_p50_ms"]
RATIOS = [
    ("sources.read.read_amplification", "ratio", "lower"),
    ("functions.locate_share", "ratio", "lower"),
    ("functions.docs_per_core_s", "docs/core-s", "higher"),
    ("operators.lake_merge.write_amplification", "ratio", "lower"),
    ("operators.lake_merge.partitions_touched", "count", "lower"),
    ("lake.read_fraction", "ratio", "lower"),
    ("operators.near_dup.candidates", "count", "lower"),
    ("operators.near_dup.verified_pairs", "count", "higher"),
    ("operators.near_dup.candidate_precision", "ratio", "higher"),
    ("streaming.batch.add_batch_ms_p50", "ms", "lower"),
    ("streaming.batch.rows", "count", "higher"),
    ("stores.files", "count", "lower"),
    ("stores.bytes", "B", "lower"),
    ("stores.compactions", "count", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
]


def per_layer_spec():
    """(name, unit, better) of every per-layer metric, in output order."""
    out = []
    for layer in SPAN_LAYERS:
        names = ["wall_s", "self_s"] + (DATA_METRICS if layer in DATA_LAYERS else [])
        if layer == "pipeline.ingest":
            names.append("jobs")
        out += [(f"{layer}.{m}", SPAN_UNITS[m], "lower") for m in names]
    return out + RATIOS


# ------------------------------------------------------------------ JVM

def run_jvm(manifest, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(tmp, [manifest])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)

        def stop(*_):
            _kill(proc)
            sys.exit(1)

        old = signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            _kill(proc)
            code = "timeout"
        finally:
            signal.signal(signal.SIGTERM, old)
    if code != 0:
        with open(log_path, errors="replace") as f:
            tail = f.read()[-6000:]
        raise RuntimeError(f"harness exited with {code}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def _kill(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


# --------------------------------------------------------------- results

def end_to_end(res, setup_s):
    walls = [o["wall_s"] for o in res["ops"]]
    docs = sum(o["docs"] for o in res["ops"])
    return {
        "setup_s": setup_s,
        "docs_per_s": docs / res["window_s"],
        "op_p50_s": statistics.median(walls),
        "peak_rss_mb": res["peak_rss_mb"],
        "stored_bytes_per_doc": res["stored_bytes"] / res["live_docs"],
    }


def _ratio(a, b):
    return a / b if b else 0.0


def per_layer(res, table):
    out = {}
    for name, _, _ in per_layer_spec():
        layer, _, m = name.rpartition(".")
        if layer in SPAN_LAYERS:
            out[name] = table.get(layer, {}).get(m, 0.0)
    ops, layer = res["ops"], res["layer"]
    plain = [o for o in ops if not o["traced"] and o["kind"] == "day"]
    out["sources.read.read_amplification"] = _ratio(
        sum(o["counters"]["json_scan_rows"] for o in plain), sum(o["docs"] for o in plain))
    traced = [o["extra"] for o in ops if "incoming_rows" in o["extra"]]
    out["operators.lake_merge.write_amplification"] = _ratio(
        sum(e["merge_output_records"] for e in traced), sum(e["incoming_rows"] for e in traced))
    out["operators.lake_merge.partitions_touched"] = _ratio(
        sum(e["partitions_touched"] for e in traced), len(traced))
    t = table.get("functions.transform", {})
    out["functions.locate_share"] = _ratio(table.get("functions.locate", {}).get("wall_s", 0.0),
                                           t.get("wall_s", 0.0))
    out["functions.docs_per_core_s"] = _ratio(sum(e["incoming_rows"] for e in traced),
                                              t.get("task_busy_s", 0.0))
    reads = table.get("lake.read", {})
    out["lake.read_fraction"] = _ratio(reads.get("input_bytes", 0.0),
                                       reads.get("spans", 0) * layer.get("lake_bytes", 0.0))
    prefix = table.get("queries.q_jaccard_prefix_pairs", {})
    cand = prefix.get("pair_candidates", 0.0) / max(1, prefix.get("spans", 0))
    ver = layer.get("prefix_pairs", 0.0) if cand else 0.0
    out["operators.near_dup.candidates"] = cand
    out["operators.near_dup.verified_pairs"] = ver
    out["operators.near_dup.candidate_precision"] = _ratio(ver, cand)
    for k in ("streaming.batch.add_batch_ms_p50", "streaming.batch.rows", "stores.files",
              "stores.bytes", "stores.compactions"):
        out[k] = layer.get(k, 0.0)
    out["trace.overhead_frac"] = overhead(ops)
    return out


def overhead(ops):
    """Traced over untraced median operation time, minus one. It is a
    measured difference, so it can be 0 or below on a noisy host."""
    tr = [o["wall_s"] for o in ops if o["traced"]]
    un = [o["wall_s"] for o in ops if not o["traced"]]
    return statistics.median(tr) / statistics.median(un) - 1.0 if tr and un else 0.0


def host_stamp(res, seed):
    cpu = "unknown"
    try:
        with open("/proc/cpuinfo") as f:
            cpu = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")),
                       cpu)
    except OSError:
        pass
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True)
        commit = r.stdout.strip() or commit
    h = res["host"]
    return {"nproc": os.cpu_count(), "heap_mb": h["heap_mb"], "cpu_model": cpu,
            "jdk": h["jdk"], "spark": h["spark"], "python": platform.python_version(),
            "git_commit": commit, "seed": seed}


def fingerprint_check(workload, seed, res, version):
    """The lake fingerprint of one build, seed and operation count must
    repeat across runs; the first run of a key records it."""
    fp = next((c["detail"] for c in res["checks"] if c["name"] == "lake_fingerprint"), None)
    if fp is None:
        return None
    path = os.path.join(WORK_ROOT, "fingerprints.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    key = f"{workload}:{seed}:{len(res['ops'])}:{version[:16]}"
    ok = seen.setdefault(key, fp) == fp
    with open(path, "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    return {"name": "lake_fingerprint_stable", "ok": ok,
            "detail": f"{fp} (first seen {seen[key]})"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        version = build.ensure_built()
    except build.BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 2

    setup_t0 = time.time()
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = os.path.join(WORK_ROOT, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        manifest, reports = workloads.prepare(a.workload, a.seed, a.seconds, a.trace, work)
        for r in reports:
            print(f"[inputs] {r['name']}: {r['measured']} (target {r['target']} "
                  f"± {r['tolerance']}) {'ok' if r['ok'] else 'OFF TARGET'}")
        res = run_jvm(manifest, work)
    except Exception as e:  # noqa: BLE001 - any failure means no result
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks = [c for c in res["checks"] if c["name"] != "lake_fingerprint"]
    fp = fingerprint_check(a.workload, a.seed, res, version)
    if fp:
        checks.append(fp)
    for c in checks:
        print(f"[check] {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    failed = sum(1 for c in checks if not c["ok"])
    attempted = len(res["ops"]) + len(checks)
    print(f"[host] {json.dumps(host_stamp(res, a.seed), sort_keys=True)}")
    print(f"[run] {len(res['ops'])} operations in {res['window_s']:.3f} s; "
          f"failed_frac {failed / attempted:.4f}")
    if "located_share" in res["layer"]:
        print(f"[run] located share measured by the pipeline: {res['layer']['located_share']:.4f}")
    tl = metrics.tail([o["wall_s"] for o in res["ops"]])
    print("[run] op_tail_s: " + (f"p{tl[0]:g} = {tl[1]:.4f} s ({tl[2]} samples beyond)" if tl
                                  else f"omitted ({len(res['ops'])} operations are too few)"))

    if a.trace:
        table = metrics.layer_table(res["spans"])
        top = metrics.top_by_self(table)
        print(f"[trace] top layer by self time: {top}")
        for name in sorted(table, key=lambda k: -table[k]["self_s"]):
            row = table[name]
            print(f"[trace] {name:34s} wall {row['wall_s']:8.3f} s  self {row['self_s']:8.3f} s  "
                  f"jobs {row.get('jobs', 0):5.0f}  busy {row.get('task_busy_s', 0):8.3f} s")
        values = per_layer(res, table)
        units = {n: u for n, u, _ in per_layer_spec()}
        with open(os.path.join(WORK_ROOT, f"trace-{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump({"spans": res["spans"], "layers": table, "metrics": values}, f, indent=1)
    else:
        values = end_to_end(res, res["window_start_ms"] / 1000.0 - setup_t0)
        units = END_TO_END
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
