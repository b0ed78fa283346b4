#!/usr/bin/env python3
"""Layered pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the repository root. It builds the engine and the harness from
source when their sources changed, picks the workload's rows from the seed, runs them closed-loop in one
JVM on local[nproc], checks every row's output fingerprint against
perfbench/reference.json, and prints a summary followed by one JSON line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
It exits non-zero when any row fails or its fingerprint mismatches.

    python3 perfbench/run.py --record

re-records perfbench/reference.json from one pass over every pooled row
and checks the written outputs against DuckDB with tools/compare.py.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
POOLS = os.path.join(HERE, "pools.json")
REFERENCE = os.path.join(HERE, "reference.json")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
SPARK_JARS = os.path.join(SPARK_HOME, "jars")
ENGINE_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
HARNESS_DIR = os.path.join(HERE, "harness")
HARNESS_CLASSES = os.path.join(HARNESS_DIR, "target", "scala-2.13", "classes")
# Wall time allowed for the benchmark JVM of one invocation.
RUN_BUDGET_S = 165
# A run is noisy when the hypervisor stole more than this share of CPU.
NOISY_STEAL_SHARE = 0.05
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def tree_stamp(paths):
    """Digest of every file's path, size and mtime under `paths`."""
    h = hashlib.sha1()
    for p in paths:
        found = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for fp in found:
            st = os.stat(fp)
            h.update(f"{os.path.relpath(fp, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_compile(cwd, sources, stamp_name, marker):
    stamp_file = os.path.join(STATE, stamp_name)
    stamp = tree_stamp(sources)
    if os.path.exists(marker) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    log("compiling", os.path.relpath(cwd, ROOT) or ".")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=cwd, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(marker):
        sys.exit(f"perfbench: build failed in {cwd}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    root_sources = [os.path.join(ROOT, p) for p in ("src/main", "project/build.properties")]
    root_sources += [os.path.join(ROOT, "build.sbt")]
    sbt_compile(ROOT, root_sources, "engine.stamp",
                os.path.join(ENGINE_CLASSES, "graft", "SparkEntry.class"))
    sbt_compile(HARNESS_DIR, [os.path.join(HARNESS_DIR, p) for p in
                              ("src", "build.sbt", "project/build.properties")],
                "harness.stamp",
                os.path.join(HARNESS_CLASSES, "graft", "perfbench", "Harness.class"))


# ---------------------------------------------------------------- JVM

def java_cmd(work, xmx, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # No hsperfdata file in the system temp dir: the run writes only
    # inside its checkout.
    cmd += [f"-Xmx{xmx}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.graft.scratch.dir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([ENGINE_CLASSES, HARNESS_CLASSES,
                                    os.path.join(SPARK_JARS, "*")])]
    return cmd + args


def run_jvm(work, xmx, args, timeout, extra_env=None):
    """Run one JVM to completion; returns (launch epoch seconds, rc)."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"), **(extra_env or {}))
    t = time.time()
    p = subprocess.Popen(java_cmd(work, xmx, args), cwd=ROOT, env=env,
                         stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=max(timeout, 1))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        rc = "timeout"
    return t, rc


def nproc():
    return str(len(os.sched_getaffinity(0)))


# ---------------------------------------------------------------- corpus

def base_corpus():
    """The sf0.1 corpus, a byte-for-byte copy of the engine's bench corpus
    kept under perfbench/corpus so that a checkout holds its own input."""
    d = os.path.join(HERE, "corpus", "sf0.1")
    missing = [t for t in TABLES if not os.path.exists(os.path.join(d, f"{t}.parquet"))]
    if missing:
        sys.exit(f"perfbench: corpus tables missing from {d}: {', '.join(missing)}")
    return d


# ---------------------------------------------------------------- machine

def machine_state():
    """Load average and (steal, total) CPU jiffies from /proc."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg1": load, "steal": cpu[7] if len(cpu) > 7 else 0,
            "total": sum(cpu)}


def machine_window(a, b):
    total = max(b["total"] - a["total"], 1)
    share = (b["steal"] - a["steal"]) / total
    return {"loadavg1_start": a["loadavg1"], "loadavg1_end": b["loadavg1"],
            "steal_jiffies": b["steal"] - a["steal"], "steal_share": share,
            "noisy": share > NOISY_STEAL_SHARE,
            "noisy_rule": f"steal share > {NOISY_STEAL_SHARE}"}


# ---------------------------------------------------------------- rows

def choose_rows(spec, pools, seed):
    """The spec's fixed core, then for each draw a seeded walk over its
    pool that takes every row whose calibrated cost still fits the
    draw's budget; all in a seeded order."""
    rng = random.Random(f"{spec['name']}:{seed}")
    rows = list(spec.get("always", []))
    for draw in spec.get("draws", []):
        pool = sorted(pools[draw["pool"]].items())
        rng.shuffle(pool)
        budget = draw["budget_s"]
        for row, cost in pool:
            if row not in rows and cost <= budget:
                rows.append(row)
                budget -= cost
    rng.shuffle(rows)
    return rows


def percentile(sorted_xs, p):
    """Nearest-rank percentile of a sorted list."""
    k = max(1, -(-len(sorted_xs) * p // 100))
    return sorted_xs[int(k) - 1]


def tail(xs):
    """The highest of a fixed set of percentiles with at least ten
    samples beyond it; the maximum when there are under twenty samples."""
    xs = sorted(xs)
    best = (100, xs[-1])
    for p in (50, 75, 90, 95, 99, 99.9):
        if len(xs) * (100 - p) / 100 >= 10:
            best = (p, percentile(xs, p))
    return best


# ---------------------------------------------------------------- trace

def classify(name):
    if "Tables.scala" in name:
        return "infer"
    if any(f in name for f in ("DiskMemo.scala", "GraphBfs.scala", "TriCore.scala")):
        return "memo"
    if "Harness.scala" in name:
        return "action"
    if "checkpoint" in name.lower():
        return "checkpoint"
    if name.split(" at ")[0] in ("count", "first", "head", "take", "collect",
                                  "isEmpty", "collectAsList", "reduce"):
        return "gate"
    if "CompletableFuture.java" in name:
        return "broadcast"
    return "other"


def interval_union(spans, lo, hi):
    total, cur = 0.0, lo
    for s, e in sorted(spans):
        s, e = max(s, cur), min(e, hi)
        if e > s:
            total += e - s
            cur = e
    return total


def trace_pass(p, cpus, pid):
    """Attribute each job of one traced pass to a row and phase by its
    start time; return (layer sums, spans, per-row splits)."""
    rows, jobs = p["rows"], p["trace"]["jobs"]
    spans, per_row = [], {}
    pass_id = f"p{p['index']}"
    t0 = min(r["start_ms"] for r in rows)
    t1 = max(r["end_ms"] for r in rows)
    spans.append({"id": pass_id, "parent": None, "kind": "pass",
                  "name": f"pass {p['index']}", "start_ms": t0, "end_ms": t1})
    windows = []
    for i, r in enumerate(rows):
        rid = f"{pass_id}.r{i}"
        spans.append({"id": rid, "parent": pass_id, "kind": "row", "name": r["name"],
                      "start_ms": r["start_ms"], "end_ms": r["end_ms"],
                      "error": r["error"] or None})
        for ph in r["phases"]:
            phid = f"{rid}.{ph['name']}"
            spans.append({"id": phid, "parent": rid, "kind": "phase",
                          "name": ph["name"], "start_ms": ph["start_ms"],
                          "end_ms": ph["end_ms"]})
            windows.append((ph["start_ms"], ph["end_ms"], phid, r, ph["name"]))
        windows.append((r["start_ms"], r["end_ms"], rid, r, "row"))
    L = {k: 0.0 for k in (
        "infer_jobs", "infer_s", "build_jobs", "checkpoint_jobs", "gate_jobs",
        "memo_build_s", "memo_writes", "memo_bytes", "jobs", "stages", "tasks",
        "busy_ms", "cpu_ns", "wait_ms", "shuffle_read", "shuffle_write", "spill",
        "peak_mem", "in_bytes", "failed_tasks", "sink_bytes", "sink_records")}
    memo_written_by_row = set()
    for j in jobs:
        owner = next((w for w in windows if w[0] <= j["start_ms"] <= w[1]), None)
        kind = "memo" if j["view"] else classify(j["name"])
        dur = max(j["end_ms"] - j["start_ms"], 0) / 1000.0
        parent = owner[2] if owner else pass_id
        spans.append({"id": f"{pass_id}.j{j['id']}", "parent": parent, "kind": "job",
                      "name": j["name"], "class": kind, "start_ms": j["start_ms"],
                      "end_ms": j["end_ms"], "tasks": j["tasks"]})
        if owner is None:
            continue  # untimed read-back of a written result
        row, phase = owner[3], owner[4]
        s = per_row.setdefault(row["name"], {"jobs": {}})
        s["jobs"][kind] = s["jobs"].get(kind, 0) + 1
        L["jobs"] += 1
        L["stages"] += j["stages"]
        L["tasks"] += j["tasks"]
        L["busy_ms"] += j["busy_ms"]
        L["cpu_ns"] += j["cpu_ns"]
        L["wait_ms"] += j["wait_ms"]
        L["shuffle_read"] += j["shuffle_read"]
        L["shuffle_write"] += j["shuffle_write"]
        L["spill"] += j["spill_disk"] + j["spill_mem"]
        L["peak_mem"] = max(L["peak_mem"], j["peak_mem"])
        L["in_bytes"] += j["in_bytes"]
        L["failed_tasks"] += j["failed_tasks"]
        if kind == "infer":
            L["infer_jobs"] += 1
            L["infer_s"] += dur
        if phase == "build":
            L["build_jobs"] += 1
            L["checkpoint_jobs"] += kind == "checkpoint"
            L["gate_jobs"] += kind == "gate"
        if kind == "memo":
            if j["out_bytes"] > 0 or not j["name"].startswith("parquet at"):
                L["memo_build_s"] += dur  # not a read-back's schema inference
            if j["out_bytes"] > 0:
                L["memo_writes"] += 1
                L["memo_bytes"] += j["out_bytes"]
                memo_written_by_row.add(row["name"])
        elif j["out_bytes"] > 0:
            L["sink_bytes"] += j["out_bytes"]
            L["sink_records"] += j["out_records"]
    # Self time: a span's duration minus what its children cover.
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    for s in spans:
        dur = max(s["end_ms"] - s["start_ms"], 0)
        s["self_ms"] = dur - interval_union(children.get(s["id"], []),
                                            s["start_ms"], s["end_ms"])
        s["trace_id"] = pid
    # A view consumer is a row, other than the view builds themselves,
    # that ran any shared-view job (every view read resolves its parquet).
    consumers = [r["name"] for r in rows if not r["name"].startswith("memo_")
                 and per_row.get(r["name"], {}).get("jobs", {}).get("memo", 0) > 0]
    hits = [c for c in consumers if c not in memo_written_by_row]
    scanned = set()
    for sc in p["trace"]["scans"]:
        if t0 <= sc["ms"] <= t1:
            scanned.update(sc["tables"])
    for r in rows:
        d = per_row.setdefault(r["name"], {"jobs": {}})
        d["wall_s"] = r["wall_s"]
        for ph in r["phases"]:
            d[ph["name"] + "_s"] = ph["secs"]
        d["coverage"] = sum(ph["secs"] for ph in r["phases"]) / r["wall_s"] \
            if r["wall_s"] > 0 else 1.0
        d["plan"] = r["plan"]
    pass_wall = (t1 - t0) / 1000.0
    phase_sum = lambda n: sum(ph["secs"] for r in rows for ph in r["phases"]
                              if ph["name"] == n)
    layers = {
        "tables.infer_jobs": L["infer_jobs"],
        "tables.infer_s": L["infer_s"],
        "tables.resolves_per_table": L["infer_jobs"] / max(len(scanned), 1),
        "ops.build_s": phase_sum("build"),
        "ops.build_jobs": L["build_jobs"],
        "ops.checkpoint_jobs": L["checkpoint_jobs"],
        "ops.gate_jobs": L["gate_jobs"],
        "ops.pinned_bytes": max(r["pinned_bytes"] for r in rows),
        "ops.pinned_bytes_end": p["storage_end_bytes"],
        "memo.build_s": L["memo_build_s"],
        "memo.writes": L["memo_writes"],
        "memo.bytes_written": L["memo_bytes"],
        "memo.hit_ratio": len(hits) / len(consumers) if consumers else 1.0,
        "plans.analysis_s": sum(r["plan"].get("analysis", 0) for r in rows),
        "plans.optimization_s": sum(r["plan"].get("optimization", 0) for r in rows),
        "plans.planning_s": sum(r["plan"].get("planning", 0) for r in rows),
        "plans.nodes": sum(r["plan_nodes"] for r in rows),
        "exec.s": phase_sum("exec"),
        "exec.jobs": L["jobs"],
        "exec.stages": L["stages"],
        "exec.tasks": L["tasks"],
        "exec.task_busy_s": L["busy_ms"] / 1000.0,
        "exec.task_cpu_s": L["cpu_ns"] / 1e9,
        "exec.sched_wait_s": L["wait_ms"] / 1000.0,
        "exec.slot_util": L["busy_ms"] / 1000.0 / max(pass_wall * int(cpus), 1e-9),
        "exec.shuffle_read_bytes": L["shuffle_read"],
        "exec.shuffle_write_bytes": L["shuffle_write"],
        "exec.spill_bytes": L["spill"],
        "exec.peak_exec_mem_bytes": L["peak_mem"],
        "exec.input_bytes": L["in_bytes"],
        "exec.failed_tasks": L["failed_tasks"],
        "sink.bytes_written": L["sink_bytes"],
        "sink.records_written": L["sink_records"],
    }
    return layers, spans, per_row


PER_LAYER_UNITS = {
    "tables.resolve_s": "s", "tables.infer_jobs": "count", "tables.infer_s": "s",
    "tables.resolves_per_table": "ratio",
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.checkpoint_jobs": "count",
    "ops.gate_jobs": "count", "ops.pinned_bytes": "bytes",
    "ops.pinned_bytes_end": "bytes",
    "memo.build_s": "s", "memo.writes": "count", "memo.bytes_written": "bytes",
    "memo.hit_ratio": "ratio",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.nodes": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_busy_s": "s", "exec.task_cpu_s": "s",
    "exec.sched_wait_s": "s", "exec.slot_util": "ratio",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.peak_exec_mem_bytes": "bytes",
    "exec.input_bytes": "bytes", "exec.failed_tasks": "count",
    "sink.bytes_written": "bytes", "sink.records_written": "count",
    "functions.dot_ns_per_pair": "ns", "functions.cosine_ns_per_pair": "ns",
    "session.start_s": "s", "session.warm_s": "s", "jvm.jit_s": "s",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.overhead": "ratio", "trace.coverage_min": "ratio",
}


# ---------------------------------------------------------------- main

def check_rows(recs, reference):
    """Rows that threw or whose fingerprint differs from the reference."""
    bad = []
    for r in recs:
        want = reference.get(r["name"])
        if r["error"]:
            bad.append((r["name"], r["error"]))
        elif want is None:
            bad.append((r["name"], "no reference fingerprint"))
        elif r["fp"] != want:
            bad.append((r["name"], f"fingerprint {r['fp']} != reference {want}"))
    return bad


def bench(args):
    conf = json.load(open(POOLS))
    specs = conf["workloads"]
    if args.workload not in specs:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {', '.join(specs)}")
    spec = dict(specs[args.workload], name=args.workload)
    build()
    corpus = base_corpus()
    ref = json.load(open(REFERENCE))
    reference = ref["fingerprints"]
    rows = choose_rows(spec, conf["pools"], args.seed)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(STATE, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(work, "rows.txt"), "w") as f:
        f.write("\n".join(rows) + "\n")
    common = ["--corpus", corpus, "--rows", os.path.join(work, "rows.txt"),
              "--work", work, "--cpus", nproc(),
              "--reset", "1" if spec.get("reset") else "0",
              "--min-passes", str(spec.get("min_passes", 1))]
    deadline = time.time() + RUN_BUDGET_S
    before = machine_state()

    out = os.path.join(work, "result.json")
    mode = "trace" if args.trace else "run"
    # Set-up time: JVM launch until the session is built and one warm pass
    # has finished.
    t, rc = run_jvm(work, "3g", ["graft.perfbench.Harness", mode, *common,
                                 "--seconds", str(args.seconds), "--out", out],
                    deadline - time.time())
    if rc != 0:
        sys.exit(f"perfbench: harness JVM failed ({rc})")
    after = machine_state()
    res = json.load(open(out))
    setup_s = res["warm_done_ms"] / 1000.0 - t
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    passes = res["passes"]
    plain = [p for p in passes if not p["traced"]]
    checked = res["warm_rows"] + [r for p in passes for r in p["rows"]]
    bad = check_rows(checked, reference)
    lat = [r["wall_s"] for p in plain for r in p["rows"]]
    tail_p, tail_v = tail(lat)
    machine = machine_window(before, after)
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "rows": rows, "passes": len(passes), "untraced_passes": len(plain),
        "setup_s": setup_s,
        "pass_s": statistics.median(p["pass_s"] for p in plain),
        "pass_times_s": [p["pass_s"] for p in passes],
        "query_p50_s": percentile(sorted(lat), 50),
        "query_tail_s": tail_v, "query_tail_percentile": tail_p,
        "query_samples": len(lat),
        "failed_ratio": len(bad) / len(checked),
        "failures": [{"row": n, "error": e} for n, e in bad],
        "peak_rss_mb": res["jvm"]["vm_hwm_mb"],
        "machine": machine,
        "row_wall_s": {n: statistics.median(r["wall_s"] for p in plain for r in p["rows"]
                                            if r["name"] == n) for n in rows},
    }

    if args.trace:
        traced = [p for p in passes if p["traced"]]
        per_pass, spans, per_row = [], [], {}
        for p in traced:
            layers, sp, pr = trace_pass(p, res["cpus"], tag)
            per_pass.append(layers)
            spans += sp
            for name, d in pr.items():
                per_row.setdefault(name, []).append(d)
        layers = {k: statistics.median(lp[k] for lp in per_pass) for k in per_pass[0]}
        layers["tables.resolve_s"] = res["resolve_s"]
        layers["functions.dot_ns_per_pair"] = res["kernels"]["dot_ns_per_pair"]
        layers["functions.cosine_ns_per_pair"] = res["kernels"]["cosine_ns_per_pair"]
        layers["session.start_s"] = res["session_s"]
        layers["session.warm_s"] = res["warm_s"]
        layers["jvm.jit_s"] = res["jvm"]["jit_s"]
        layers["jvm.gc_s"] = res["jvm"]["gc_s"]
        layers["jvm.heap_peak_mb"] = res["jvm"]["heap_peak_mb"]
        layers["trace.overhead"] = statistics.median(p["pass_s"] for p in traced) \
            / summary["pass_s"]
        layers["trace.coverage_min"] = min(d["coverage"] for ds in per_row.values()
                                           for d in ds)
        summary["trace_overhead"] = layers["trace.overhead"]
        summary["layers"] = layers
        summary["per_row"] = {n: ds[len(ds) // 2] for n, ds in per_row.items()}
        span_file = os.path.join(STATE, "runs", f"{tag}.spans.jsonl")
        with open(span_file, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
        summary["span_file"] = os.path.relpath(span_file, ROOT)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        metrics = {
            "setup_s": {"value": summary["setup_s"], "unit": "s"},
            "pass_s": {"value": summary["pass_s"], "unit": "s"},
        }
    report = os.path.join(STATE, "runs", f"{tag}.json")
    with open(report, "w") as f:
        json.dump(summary, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed}: {len(rows)} rows, "
          f"{len(plain)} untraced passes, report {os.path.relpath(report, ROOT)}")
    print(f"  setup_s        {summary['setup_s']:.3f} s")
    print(f"  pass_s         {summary['pass_s']:.3f} s")
    print(f"  query_p50_s    {summary['query_p50_s']:.4f} s")
    print(f"  query_tail_s   {tail_v:.4f} s  (p{tail_p} of {len(lat)} samples)")
    print(f"  failed_ratio   {summary['failed_ratio']:.4f} ratio  "
          f"({len(bad)} of {len(checked)})")
    print(f"  peak_rss_mb    {summary['peak_rss_mb']:.1f} MB")
    print(f"  machine        load {machine['loadavg1_start']:.2f}->"
          f"{machine['loadavg1_end']:.2f}, steal share {machine['steal_share']:.4f}"
          + ("  NOISY" if machine["noisy"] else ""))
    for n, e in bad:
        print(f"  FAILED {n}: {e}")
    for n in rows:
        if n in ref["oracle_mismatch"]:
            print(f"  note: {n} matches its seed-commit reference, which differs from "
                  f"DuckDB: {ref['oracle_mismatch'][n]}")
    print(json.dumps({"correct": not bad, "attempted": len(checked),
                      "failed": len(bad), "metrics": metrics}))
    return 1 if bad else 0


def record(args):
    """One written pass over every pooled row: new reference fingerprints,
    then tools/compare.py against DuckDB for the rows it has oracles for."""
    conf = json.load(open(POOLS))
    build()
    corpus = base_corpus()
    rows = set()
    for spec in conf["workloads"].values():
        rows.update(spec.get("always", []))
    for pool in conf["pools"].values():
        rows.update(pool)
    work = os.path.join(STATE, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    with open(os.path.join(work, "rows.txt"), "w") as f:
        f.write("\n".join(sorted(rows)) + "\n")
    out = os.path.join(work, "result.json")
    _, rc = run_jvm(work, "4g", ["graft.perfbench.Harness", "record", "--corpus", corpus,
                                 "--rows", os.path.join(work, "rows.txt"), "--work", work,
                                 "--cpus", nproc(), "--out", out, "--progress", "1"], 7200)
    if rc != 0:
        sys.exit(f"perfbench: record JVM failed ({rc})")
    recs = sorted(json.load(open(out))["rows"], key=lambda r: r["name"])
    errors = {r["name"]: r["error"] for r in recs if r["error"]}
    fps = {r["name"]: r["fp"] for r in recs if not r["error"]}
    oracle = json.load(open(os.path.join(work, "out", "oracle_sql.json")))
    checked = [r for r in fps if r in oracle]
    cmp = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                          corpus, os.path.join(work, "out"), *checked],
                         capture_output=True, text=True)
    print(cmp.stdout[-4000:])
    mismatch = dict(line[5:].split(": ", 1) for line in cmp.stdout.splitlines()
                    if line.startswith("FAIL "))
    with open(REFERENCE, "w") as f:
        json.dump({"corpus": "perfbench/corpus/sf0.1",
                   "errors": errors, "oracle_mismatch": mismatch,
                   "fingerprints": fps}, f, indent=1)
        f.write("\n")
    print(f"recorded {len(fps)} fingerprints, {len(errors)} errors; "
          f"{len(checked)} rows have an oracle, compare.py exit {cmp.returncode}")
    return 1 if cmp.returncode or errors else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found; run from a checkout of the engine")
    if not os.path.isdir(SPARK_JARS):
        sys.exit("perfbench: set SPARK_HOME to a Spark install with a jars/ directory")
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    if args.record:
        return record(args)
    if not args.workload:
        ap.error("--workload is required")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
