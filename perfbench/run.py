#!/usr/bin/env python3
"""Benchmark of the graft engine: the nightly Glamira DAG, ad-hoc mart
queries and training-corpus curation, timed end to end and per layer.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --ledger-diff <ledger.json> <ledger.json>

Run from the root of a checkout. The first run builds the engine from
source (``perfbench/build.py``); inputs are generated from the seed
(``perfbench/gen.py``) and cached per seed. One JVM (``perfbench/scala``)
sets up a Spark session, runs the workload as a closed loop with one client
for at least ``--seconds``, and checks its outputs in an untimed pass. The
last line of stdout is the JSON result; everything else, including the
spans, per-layer self times and the work-counter ledger, goes to
``.bench_build/perfbench/results``. See ``perfbench/README.md``.
"""
import argparse
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Registry queries of each workload's mix. Every pass runs the whole mix in
# a seeded order; names are validated against SparkEntry.queries before
# anything is timed.
ADHOC_MIX = [
    "q0_flagship_star", "w1_latest_per_key", "x11_json_extract", "j4_fact_inner",
    "j14_asof_join", "rollup_revenue", "x3_locale_numeric", "ts_rolling_7d",
    "glamira_stg_order", "approx_percentiles",
]
CORPUS_MIX = [
    "dedup_minhash_lsh", "dedup_keep_best", "text_quality", "curation_c4_pipeline",
    "sim_ann_lsh", "fusion_rrf", "emb_quantize_sq", "decontaminate_bloom",
]
# checks: how many distinct names of the mix each run compares with the oracle
WORKLOADS = {
    "nightly_dag": {"inputs": "glamira", "mix": [], "checks": 0},
    "corpus_curation": {"inputs": "registry", "mix": CORPUS_MIX, "checks": 3},
    "adhoc_marts": {"inputs": "registry", "mix": ADHOC_MIX, "checks": 4},
}
NIGHTLY_EVENTS = 20000
JVM_TIMEOUT_S = 172
LEDGER_COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_records",
                   "spark.shuffle_write_bytes", "spark.spill_bytes", "queries.build_jobs",
                   "corpus_cache.builds"]
GLAMIRA_NODES = ["customer_email_scd", "mart_dim_date", "mart_dim_location",
                 "mart_dim_product", "mart_dim_customer", "mart_fact_order"]
# per-layer time metrics: metric name -> span name
LAYER_SPANS = {
    "queries.build_s": "queries.build", "queries.action_s": "queries.action",
    "ingest.typed_ingest_s": "ingest.typed_ingest",
    "operators.scd2_snapshot_s": "operators.scd2_snapshot",
    "operators.merge_upsert_s": "operators.merge_upsert",
    "operators.dbt_tests_s": "operators.dbt_tests", "sources.write_s": "sources.write",
    **{f"glamira.{n}_s": f"glamira.{n}" for n in GLAMIRA_NODES},
}


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def load_spec(root):
    path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    with open(path) as fh:
        return json.load(fh)


def ensure_inputs(base, family, seed):
    """Generate (or reuse) the inputs of one family and seed."""
    d = os.path.join(base, "inputs", f"{family}-seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(d, ignore_errors=True)
        if family == "tiny":
            m = {"inputs": gen.gen_tiny(d)}
        elif family == "registry":
            m = {"inputs": gen.gen_registry(d, seed)}
        else:
            m = gen.gen_glamira(d, seed, NIGHTLY_EVENTS)
        with open(manifest, "w") as fh:
            json.dump(m, fh, indent=1, sort_keys=True)
    with open(manifest) as fh:
        return d, json.load(fh)


def run_harness(b, conf, work):
    """Run the harness JVM on ``conf``; return (spawn epoch s, result dict)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    conf_path = os.path.join(work, "run.properties")
    with open(conf_path, "w") as fh:
        for k, v in conf.items():
            fh.write(f"{k}={str(v).replace(chr(92), '/')}\n")
    log_path = os.path.join(work, "harness.log")
    cmd = build.java_cmd(b)
    cmd.insert(1, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    with open(log_path, "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(cmd + [conf_path], stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(conf["out"]):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        fail(f"harness exited with {code}; log tail:\n{tail}")
    with open(conf["out"]) as fh:
        return spawned, json.load(fh)


def oracle_check(root, data, out, names):
    """Compare dumped registry outputs with DuckDB via tools/check.py."""
    if not names:
        return {}
    proc = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, out, *names],
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    lines = proc.stdout.splitlines()
    return {n: {"ok": any(line.startswith(f"[{n}] OK") for line in lines),
                "detail": [line for line in lines if line.startswith(f"[{n}]")][:4]}
            for n in names}


class Spans:
    """The traced run's span tree with counters summed over subtrees."""

    def __init__(self, res):
        self.spans = res["spans"]
        keys = ["jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_records", "fetch_wait_s", "input_bytes", "spill_bytes", "task_failures"]
        own = res["span_counters"]
        plan = res["span_plan_ms"]
        self.total = []
        for s in self.spans:
            c = {k: own.get(str(s["id"]), {}).get(k, 0.0) for k in keys}
            c["plan_ms"] = float(plan.get(str(s["id"]), 0.0))
            c["build_jobs"] = c["jobs"] if s["name"] == "queries.build" else 0.0
            c["seconds"] = (s["end_ns"] - s["start_ns"]) / 1e9
            c["child_seconds"] = 0.0
            self.total.append(c)
        # children start after their parents, so one reverse sweep sums subtrees
        for s in reversed(self.spans):
            if s["parent"] >= 0:
                parent, child = self.total[s["parent"]], self.total[s["id"]]
                parent["child_seconds"] += child["seconds"]
                for k in keys + ["plan_ms", "build_jobs"]:
                    parent[k] += child[k]

    def tops(self, passes=None):
        return [(s, self.total[s["id"]]) for s in self.spans
                if s["parent"] < 0 and (passes is None or s["pass"] in passes)]


def per_layer(res, cores):
    """Per-layer metrics of a traced run, each a mean per traced pass."""
    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    n = len(traced)
    sp = Spans(res)
    tops = sp.tops(set(traced))
    m = {name: 0.0 for name in LAYER_SPANS}
    metric_of = {span: metric for metric, span in LAYER_SPANS.items()}
    for s, c in zip(sp.spans, sp.total):
        if s["pass"] in traced and s["name"] in metric_of:
            m[metric_of[s["name"]]] += c["seconds"]

    def tot(k):
        return sum(c[k] for _, c in tops)
    m.update({
        "queries.build_jobs": tot("build_jobs"),
        "spark.plan_ms": tot("plan_ms"), "spark.jobs": tot("jobs"), "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"), "spark.task_run_s": tot("task_run_s"),
        "spark.task_cpu_s": tot("task_cpu_s"), "spark.gc_s": tot("gc_s"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_records": tot("shuffle_records"), "spark.fetch_wait_s": tot("fetch_wait_s"),
        "spark.input_bytes": tot("input_bytes"), "spark.spill_bytes": tot("spill_bytes"),
        "spark.task_failures": tot("task_failures"),
        "spark.core_idle_s": sum(cores * c["seconds"] - c["task_run_s"] for _, c in tops),
    })
    cycles = res["bytes_written_per_cycle"]
    m["sources.bytes_written"] = float(sum(cycles[p - 1] for p in traced if p - 1 < len(cycles)))
    ops = [o for o in res["ops"] if o["traced"]]
    corpus = res["workload"] == "corpus_curation"
    m["corpus_cache.builds"] = float(sum(1 for o in ops if o["built"] > 0)) if corpus else 0.0
    m["corpus_cache.build_op_s"] = sum(o["seconds"] for o in ops if o["built"] > 0) if corpus else 0.0
    m["corpus_cache.serve_op_s"] = sum(o["seconds"] for o in ops if o["built"] == 0) if corpus else 0.0
    m = {k: v / n for k, v in m.items()}
    m["corpus_cache.bytes"] = float(res["corpus_cache_bytes"]) if corpus else 0.0
    # the slice runs in quartets untraced, traced, traced, untraced; the
    # median of their ratios is robust to one slow call
    q = [res["overhead"][k:k + 4] for k in range(0, len(res["overhead"]) - 3, 4)]
    m["bench.trace_overhead"] = statistics.median(
        (a[1]["seconds"] + a[2]["seconds"]) / (a[0]["seconds"] + a[3]["seconds"]) for a in q)

    self_time = {}
    for s, c in zip(sp.spans, sp.total):
        if s["pass"] in traced:
            name = "op" if s["name"].startswith("op:") else s["name"]
            self_time[name] = self_time.get(name, 0.0) + (c["seconds"] - c["child_seconds"]) / n
    return m, self_time


def ledger(res):
    """Work counters of the first (traced) pass, keyed by op or layer."""
    sp = Spans(res)
    depth = 1 if res["workload"] == "nightly_dag" else 0
    entries = {}
    for s, c in zip(sp.spans, sp.total):
        d, up = 0, s["parent"]
        while up >= 0:
            d, up = d + 1, sp.spans[up]["parent"]
        if s["pass"] == 1 and d == depth:
            key = s["name"].removeprefix("op:")
            e = entries.setdefault(key, {k: 0 for k in LEDGER_COUNTERS})
            for k in ("jobs", "stages", "tasks", "shuffle_records", "shuffle_write_bytes", "spill_bytes"):
                e[f"spark.{k}"] += int(c[k])
            e["queries.build_jobs"] += int(c["build_jobs"])
    for o in res["ops"]:
        if o["pass"] == 1 and o["name"] in entries:
            entries[o["name"]]["corpus_cache.builds"] += 1 if o["built"] > 0 else 0
    return entries


def ledger_diff(a, b):
    diffs = []
    for key in sorted(set(a["counters"]) | set(b["counters"])):
        ca, cb = a["counters"].get(key), b["counters"].get(key)
        if ca is None or cb is None:
            diffs.append(f"{key}: present in only one ledger")
            continue
        diffs += [f"{key} {c}: {ca[c]} != {cb[c]}" for c in LEDGER_COUNTERS if ca.get(c) != cb.get(c)]
    return diffs


def git_commit(root):
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_all(args):
    """Every workload in turn, each in its own process."""
    results = {}
    for w in WORKLOADS:
        proc = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                               "--seed", str(args.seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{w}] {line}")
        if proc.returncode != 0 or not lines:
            fail(f"workload {w} failed with exit code {proc.returncode}")
        results[w] = json.loads(lines[-1])
    print(json.dumps(results, sort_keys=True))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ledger-diff", nargs=2, metavar="LEDGER")
    args = ap.parse_args()
    if args.ledger_diff:
        a, b = (json.load(open(p)) for p in args.ledger_diff)
        diffs = ledger_diff(a, b)
        print("\n".join(diffs) if diffs else "ledgers agree on every counter")
        sys.exit(1 if diffs else 0)
    if not args.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    spec = load_spec(root)
    for need in ("src/main/scala", "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found; run from the root of a full checkout")
    if args.workload == "all":
        return run_all(args)

    base = os.path.join(root, ".bench_build", "perfbench")
    wl = WORKLOADS[args.workload]
    tiny, _ = ensure_inputs(base, "tiny", 0)
    cores = len(os.sched_getaffinity(0))

    def conf_for(workload, data, work, seconds, trace, mix, check, extra=()):
        return {"workload": workload, "seed": args.seed, "seconds": seconds, "trace": trace,
                "cores": cores, "tiny": tiny, "data": data, "work": work,
                "out": os.path.join(work, "result.json"), "check_out": os.path.join(work, "check"),
                "mix": ",".join(mix), "check": ",".join(check), "run_id": os.path.basename(work),
                **dict(extra)}

    b = build.build(root)
    data, manifest = ensure_inputs(base, wl["inputs"], args.seed)
    check = sorted(random.Random(args.seed).sample(wl["mix"], wl["checks"])) if wl["mix"] else []
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    work = os.path.join(base, "work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    expect = {f"expect.{k}": v for k, v in manifest.get("expect", {}).items()}
    conf = conf_for(args.workload, data, work, args.seconds, args.trace, wl["mix"], check, expect.items())
    spawned, res = run_harness(b, conf, work)

    # ---- outputs: failed ops are ones that threw or failed a check -----
    ops = res["ops"]
    checks = dict(res["checks"])
    if args.workload == "nightly_dag":
        bad = {int(k.removeprefix("cycle-")) for k, v in checks.items() if not v["ok"]}
        failed = sum(1 for o in ops if not o["ok"] or o["pass"] in bad)
    else:
        ran = [n for n in check if checks[n]["ok"]]
        oracle = oracle_check(root, data, conf["check_out"], ran)
        for n in check:
            checks[n] = {**checks[n], **oracle.get(n, {})}
        bad_names = {n for n in check if not checks[n]["ok"]}
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_names)
    attempted = len(ops)

    secs = [o["seconds"] for o in ops]
    e2e = {
        "setup_s": res["setup_cpu_s"],
        "ops_per_s": len(ops) / sum(secs),
        "op_p50_s": statistics.median(secs),
        "cpu_s_per_op": sum(o["cpu_s"] for o in ops) / len(ops),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layer, self_time = per_layer(res, cores) if args.trace else ({}, {})
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
               if values.get(m["name"]) is not None}

    record = {
        "stamp": {"git_commit": git_commit(root), "source_sha256": b["source_sha256"],
                  "nproc": cores, "heap": build.HEAP, **res["stamp"]},
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "inputs": manifest["inputs"], "end_to_end": e2e, "per_layer": layer,
        "self_time_per_pass": self_time, "failed_ops_ratio": failed / attempted,
        "window_wall_s": res["window_wall_s"], "passes": res["passes"], "ops": ops,
        "checks": checks, "spans": res["spans"], "trace_overhead_slice": res["overhead"],
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        led = {"workload": args.workload, "seed": args.seed, "source_sha256": b["source_sha256"],
               "counters": ledger(res)}
        ledgers = os.path.join(base, "ledger")
        os.makedirs(ledgers, exist_ok=True)
        same = sorted(glob.glob(os.path.join(ledgers, f"{args.workload}-seed{args.seed}-*.json")))
        same = [p for p in same if json.load(open(p))["source_sha256"] == b["source_sha256"]]
        if same:
            record["ledger_diff"] = {"against": os.path.basename(same[-1]),
                                     "differs": ledger_diff(json.load(open(same[-1])), led)}
        with open(os.path.join(ledgers, f"{run_id}.json"), "w") as fh:
            json.dump(led, fh, indent=1, sort_keys=True)
        record["ledger"] = led["counters"]
    with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    shutil.move(os.path.join(work, "harness.log"), os.path.join(results, f"{run_id}.log"))
    shutil.rmtree(work, ignore_errors=True)

    for name, v in metrics.items():
        print(f"{name} = {v['value']:.6g} {v['unit']}")
    if not args.trace:
        # reported, not gated: wall-clock throughput follows the machine's
        # speed, which drifts with other tenants' load by more than any bound
        # over minutes; with one pass per run wall_s and cpu_s restate
        # ops_per_s and cpu_s_per_op; op_p50_s over a handful of ops of very
        # different cost jumps with the seeded order; and p90 needs ten ops
        # past the 90th percentile
        print(f"setup_wall_s = {res['ready_epoch_ms'] / 1000.0 - spawned:.6g} s")
        print(f"ops_per_s = {e2e['ops_per_s']:.6g} 1/s")
        print(f"wall_s = {res['window_wall_s']:.6g} s (the window)")
        print(f"cpu_s = {sum(o['cpu_s'] for o in ops):.6g} s")
        p90 = f"{statistics.quantiles(secs, n=10)[-1]:.6g} s" if len(secs) >= 100 else "n/a (under 100 ops)"
        print(f"op_p50_s = {e2e['op_p50_s']:.6g} s (median of {len(secs)} ops)")
        print(f"op_p90_s = {p90}")
    print(f"failed_ops_ratio = {failed / attempted:.6g} ({failed}/{attempted} ops)")
    if "ledger_diff" in record:
        d = record["ledger_diff"]["differs"]
        print(f"ledger vs {record['ledger_diff']['against']}: " + ("; ".join(d) if d else "identical"))
    print(f"result file: {os.path.relpath(os.path.join(results, run_id + '.json'), root)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
