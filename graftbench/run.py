#!/usr/bin/env python3
"""graft's benchmark: an analyst session, a graph board and a docs board.

    python3 graftbench/run.py --workload analyst --seed 1 --seconds 15 --trace 0
    python3 graftbench/run.py --all --seed 1     # every workload, a metric table

Builds the library and the harness from the checkout's sources, makes
the workload's inputs from the seed, runs one JVM at local[nproc],
checks every output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
The full run record (host stamps, quartiles, spans, failures) is saved
under graftbench/.work/runs/. See graftbench/README.md.
"""

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
BENCHMARK_JSON = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
JVM_TIMEOUT_S = 172
ANALYST_BINARIES = 24

BOARD_SF = 0.01
BOARD_QUERIES = {  # query -> layer
    "graph_clustering": "graph", "graph_weakties": "graph",
    "sim_lsh": "pipeline", "dedup_embedding_auto": "pipeline",
}
ENGINE_KINDS = ["functions", "strings", "xrefs", "binary_info", "stats", "sequences",
                "caller_sequences", "call_freq", "callgraph", "call_paths", "recursion"]
SPARK_COUNTERS = [  # (metric, counter, scale)
    ("spark.jobs", "Jobs", 1), ("spark.stages", "Stages", 1), ("spark.tasks", "Tasks", 1),
    ("spark.task_failures", "TaskFailures", 1),
    ("spark.shuffle_read_bytes", "ShuffleRead", 1),
    ("spark.shuffle_write_bytes", "ShuffleWrite", 1),
    ("spark.spill_bytes", "Spill", 1), ("spark.executor_cpu_s", "CpuNs", 1e-9),
    ("spark.gc_s", "GcMs", 1e-3), ("spark.peak_exec_mem_bytes", "PeakExecMem", 1),
]


# ---- host stamp -----------------------------------------------------------

def nproc():
    return len(os.sched_getaffinity(0))


def _cpu_times():
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_stamp():
    """nproc, 1-min loadavg, CPU counters and the other java/python/duckdb
    processes."""
    mine = {os.getpid(), os.getppid()}
    others = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in mine:
            continue
        try:
            with open("/proc/%s/comm" % pid) as f:
                comm = f.read().strip()
        except OSError:
            continue
        if any(k in comm for k in ("java", "python", "duckdb")):
            others.append("%s:%s" % (pid, comm))
    return {"time": time.time(), "nproc": nproc(), "loadavg_1m": os.getloadavg()[0],
            "cpu": _cpu_times(), "others": others}


def steal_frac(start, end):
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# ---- JVM ------------------------------------------------------------------

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, args, run_dir, timeout):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dderby.system.home=" + run_dir,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graftbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            return p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def ensure_board_data(classpath, sf):
    """DataGen output for the scale factor. It is deterministic, so it is
    made once per library version (keyed by the library sources, which
    hold DataGen) and reused."""
    name = "sf%s-%s" % (sf, build.library_key()[:16])
    d = os.path.join(WORK, "data", name)
    if os.path.exists(os.path.join(d, "_done")):
        return d
    for old in glob.glob(os.path.join(WORK, "data", "sf%s-*" % sf)):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(d)
    log_dir = os.path.join(WORK, "datagen")
    os.makedirs(log_dir, exist_ok=True)
    rc = run_jvm(classpath, ["--workload", "datagen", "--data", d, "--sf", str(sf),
                             "--cpus", str(nproc())], log_dir, 600)
    if rc != 0:
        raise SystemExit("datagen failed (see %s/jvm.log)" % log_dir)
    open(os.path.join(d, "_done"), "w").close()
    return d


def setup_probe(classpath, run_dir):
    """One set-up in a JVM of its own: process start to a ready session.
    Returns its wall and JVM CPU seconds."""
    d = os.path.join(run_dir, "setup")
    os.makedirs(d, exist_ok=True)
    out = os.path.join(d, "setup.json")
    if run_jvm(classpath, ["--workload", "setup", "--cpus", str(nproc()), "--out", out],
               d, 60) != 0:
        raise SystemExit("set-up probe failed (see %s/jvm.log)" % d)
    with open(out) as f:
        return json.load(f)


# ---- checks and metrics ---------------------------------------------------

def _rows_equal(got, exp):
    """Multiset equality; floats within 1e-3 (tf-idf scores are rounded
    to 4 places on both sides, by different rounding rules)."""
    if len(got) != len(exp):
        return False

    def key(r):
        return tuple("" if isinstance(v, float) else json.dumps(v) for v in r)

    for g, e in zip(sorted(got, key=key), sorted(exp, key=key)):
        if len(g) != len(e):
            return False
        for a, b in zip(g, e):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or abs(a - b) > 1e-3:
                    return False
            elif a != b:
                return False
    return True


def _span_tree(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def _inclusive(span, kids, counter):
    return span["counters"][counter] + sum(_inclusive(k, kids, counter)
                                           for k in kids.get(span["id"], []))


def _secs(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def _med(values, default=0.0):
    m = stats.median(values)
    return default if m is None else m


def analyst_check(rec, ops):
    exp = {o["id"]: o for o in ops}
    failures = []
    for r in rec["ops"]:
        o = exp[r["id"]]
        if "error" in r:
            failures.append("%d %s: %s" % (r["id"], r["kind"], r["error"]))
        elif not _rows_equal(r["rows"], o["expect"]):
            failures.append("%d %s %s: rows differ from ground truth"
                            % (r["id"], r["kind"], json.dumps(
                                {k: v for k, v in o.items() if k not in ("expect", "path")})))
    return len(rec["ops"]), failures


def analyst_metrics(rec, trace):
    ops = rec["ops"]
    boot = ops[0]
    queries = [o for o in ops if o["kind"] not in ("import", "merge") and "error" not in o]
    merges = [o for o in ops if o["kind"] == "merge" and "error" not in o]
    lat = [o["wall_s"] for o in queries]
    detail = {
        "queries": len(lat), "merges": len(merges),
        "quartiles": {"query_s": stats.quartiles(lat)},
        "query_tail_percentile": stats.tail_percentile(len(lat)),
        "ingest_mb_per_s": boot["bytes"] / 1e6 / boot["import_s"] if "import_s" in boot else None,
        "merge_p50_s": stats.median([m["merge_s"] for m in merges]),
        "json_mb": boot["bytes"] / 1e6,
        "op_walls": [(o["id"], o["kind"], o.get("wall_s"), o.get("cpu_s")) for o in ops],
    }
    detail["wall_s"] = sum(o.get("wall_s", 0.0) for o in ops)
    detail["query_p50_s"] = stats.percentile(lat, 0.5)
    if not trace:
        return {"cpu_s": sum(o.get("cpu_s", 0.0) for o in ops)}, detail
    spans = rec["spans"]
    kids = _span_tree(spans)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def first(name):
        return by_name.get(name, [None])[0]

    m = {"run.wall_s": detail["wall_s"], "run.query_p50_s": detail["query_p50_s"]}
    for n in ("read", "validate", "save"):
        s = first("importer." + n)
        m["importer.%s_s" % n] = _secs(s) if s else 0.0
    m["importer.merge_s"] = _med([_secs(s) for s in by_name.get("importer.merge", [])])
    m["importer.load_s"] = _med([_secs(s) for s in by_name.get("importer.load", [])])
    imp = first("importer.import")
    m["importer.jobs"] = _inclusive(imp, kids, "Jobs") if imp else 0
    m["importer.ingest_mb_per_s"] = detail["ingest_mb_per_s"] or 0.0
    m["store.bytes"] = ops[-1].get("store_bytes", boot.get("store_bytes", 0))
    m["store.write_amp"] = _med([o["store_bytes"] / o["bytes"] for o in merges])
    op_spans = {}
    for s in spans:
        if s["name"].startswith("engine."):
            op_spans.setdefault(s["op"], []).append(s)
    for k in ENGINE_KINDS:
        cons = [_secs(s) for s in by_name.get("engine.%s.construct" % k, [])]
        exe = [_secs(s) for s in by_name.get("engine.%s.execute" % k, [])]
        jobs = [sum(_inclusive(s, kids, "Jobs") for s in ss)
                for ss in op_spans.values() if ss[0]["name"].split(".")[1] == k]
        m["engine.%s.construct_s" % k] = _med(cons)
        m["engine.%s.execute_s" % k] = _med(exe)
        m["engine.%s.jobs" % k] = _med(jobs)
    m["engine.first_traversal_s"] = _med([o["wall_s"] for o in queries if o["first_traversal"]])
    for name, counter, scale in SPARK_COUNTERS:
        m[name] = _med([sum(_inclusive(s, kids, counter) for s in ss) * scale
                        for ss in op_spans.values()])
    m["memo.built"], m["memo.ridden"] = rec["memo_total"]
    # tracing overhead: traced vs untraced queries, kind by kind
    num = den = 0.0
    for k in ENGINE_KINDS:
        t = [o["wall_s"] for o in queries if o["kind"] == k and o["traced"]]
        u = [o["wall_s"] for o in queries if o["kind"] == k and not o["traced"]]
        if t and u:
            n = len(t) + len(u)
            num += n * stats.median(t)
            den += n * stats.median(u)
    m["trace.overhead_frac"] = num / den - 1 if den else 0.0
    return m, detail


def board_check(rec, oracle_result):
    """(attempted, failures): every timed query run is one op. An op fails
    when it threw, when its digest differs from the verified output, or
    when the verified output itself failed the oracle."""
    failures = []
    verify = rec["verify"]
    bad = {}
    for q, v in verify.items():
        if "error" in v:
            bad[q] = "verification pass: %s" % v["error"]
        elif oracle_result.get(q):
            bad[q] = "oracle: %s" % oracle_result[q]
    attempted = 0
    for p in rec["passes"]:
        for q in p["queries"]:
            attempted += 1
            name = q["query"]
            if "error" in q:
                failures.append("%s pass %d: %s" % (name, p["pass"], q["error"]))
            elif name in bad:
                failures.append("%s pass %d: %s" % (name, p["pass"], bad[name]))
            elif q["digest"] != verify[name]["digest"]:
                failures.append("%s pass %d: digest %s != verified %s"
                                % (name, p["pass"], q["digest"], verify[name]["digest"]))
    built = {p["memo_built"] for p in rec["passes"]} | {rec["verify_memo_built"]}
    if len(built) > 1:
        failures.append("memo.built differs between board runs: %s" % sorted(built))
    return attempted, failures


def board_metrics(rec, trace):
    passes = rec["passes"]
    lat = [q["construct_s"] + q["execute_s"] for p in passes for q in p["queries"]
           if "error" not in q]
    detail = {
        "passes": len(passes), "queries": len(lat),
        "pass_cpu_s": [p.get("cpu_s") for p in passes],
        "quartiles": {"pass_s": stats.quartiles([p["wall_s"] for p in passes]),
                      "query_s": stats.quartiles(lat)},
        "memo_built_per_pass": [p["memo_built"] for p in passes],
        "pass_queries": [[(q["query"], q.get("construct_s"), q.get("execute_s"))
                          for q in p["queries"]] for p in passes],
        "count_gap": {q: {"digest_s": v["digest_s"], "count_s": v["count_s"]}
                      for q, v in rec["verify"].items() if "digest_s" in v and trace},
    }
    detail["wall_s"] = stats.median([p["wall_s"] for p in passes])
    detail["query_p50_s"] = stats.percentile(lat, 0.5)
    if not trace:
        return {"cpu_s": stats.median([p["cpu_s"] for p in passes])}, detail
    spans = rec["spans"]
    kids = _span_tree(spans)
    traced = [p for p in passes if p["traced"]]
    m = {"run.wall_s": detail["wall_s"], "run.query_p50_s": detail["query_p50_s"]}
    by_pass = {}
    for s in spans:
        by_pass.setdefault(s["op"], []).append(s)
    for q, layer in BOARD_QUERIES.items():
        for phase in ("construct", "execute"):
            m["%s.%s.%s_s" % (layer, q, phase)] = _med(
                [_secs(s) for s in spans if s["name"] == "%s.%s.%s" % (layer, q, phase)])
    for phase in ("construct", "execute"):
        m["board.%s_jobs" % phase] = _med(
            [sum(_inclusive(s, kids, "Jobs") for s in by_pass.get(p["pass"], [])
                 if s["name"].endswith("." + phase)) for p in traced])
    for name, counter, scale in SPARK_COUNTERS:
        m[name] = _med([sum(_inclusive(s, kids, counter) for s in by_pass.get(p["pass"], [])
                            if s["parent"] == 0) * scale for p in traced])
    m["memo.built"] = _med([p["memo_built"] for p in passes])
    m["memo.ridden"] = _med([p["memo_ridden"] for p in passes])
    t = [p["wall_s"] for p in passes if p["traced"]]
    u = [p["wall_s"] for p in passes if not p["traced"]]
    m["trace.overhead_frac"] = stats.median(t) / stats.median(u) - 1 if t and u else 0.0
    return m, detail


def per_layer_names():
    with open(BENCHMARK_JSON) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def end_to_end_names():
    with open(BENCHMARK_JSON) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["end_to_end"]]


# ---- one run --------------------------------------------------------------

def run_workload(workload, seed, seconds, trace):
    t_start = time.time()
    stamp0 = host_stamp()
    classpath = build.build()
    run_dir = os.path.join(WORK, "run-%s" % workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "record.json")
    base = ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(nproc()), "--out", out]
    if workload == "analyst":
        import corpus
        session = corpus.Session(seed, n_binaries=ANALYST_BINARIES)
        _, ops = session.ops(os.path.join(run_dir, "input"))
        with open(os.path.join(run_dir, "ops.json"), "w") as f:
            json.dump([{k: v for k, v in o.items() if k != "expect"} for o in ops], f)
        args = ["--workload", "analyst", "--ops", os.path.join(run_dir, "ops.json"),
                "--store", os.path.join(run_dir, "store")] + base
    elif workload == "board":
        import random
        data = ensure_board_data(classpath, BOARD_SF)
        order = sorted(BOARD_QUERIES)
        random.Random(seed).shuffle(order)
        args = ["--workload", workload, "--data", data,
                "--queries", ",".join("%s:%s" % (BOARD_QUERIES[q], q) for q in order),
                "--verify", os.path.join(run_dir, "verify")] + base
    else:
        raise SystemExit("unknown workload %s" % workload)
    # a second set-up, from a fresh process; setup_s is an end-to-end
    # metric, so traced runs skip it
    setups = [] if trace else [setup_probe(classpath, run_dir)]
    rc = run_jvm(classpath, args, run_dir, JVM_TIMEOUT_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-3000:])
        raise SystemExit("benchmark JVM failed (exit %s)" % rc)
    with open(out) as f:
        rec = json.load(f)
    setups.append(rec["setup"])
    if workload == "analyst":
        attempted, failures = analyst_check(rec, ops)
        metrics, detail = analyst_metrics(rec, trace)
    else:
        import oracle
        res = oracle.check(data, os.path.join(run_dir, "verify"), rec["oracle_sql"],
                           os.path.join(run_dir, "duckdb"))
        attempted, failures = board_check(rec, res)
        metrics, detail = board_metrics(rec, trace)
    stamp1 = host_stamp()
    wanted = per_layer_names() if trace else end_to_end_names()
    extra = {"jvm.peak_heap_mb": rec["jvm_peak_heap_mb"]}
    if "memo.built" in metrics:
        b, r = metrics["memo.built"], metrics["memo.ridden"]
        extra["memo.ride_ratio"] = r / (b + r) if b + r else 0.0
    metrics.update(extra)
    metrics["setup_s"] = stats.median([x["cpu_s"] for x in setups])
    # a layer the workload does not reach reads 0
    result_metrics = {n: {"value": float(metrics.get(n) or 0.0), "unit": u} for n, u in wanted}
    failed = len([f for f in failures if not f.startswith("memo.built")])
    correct = not failures
    record = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host_start": stamp0, "host_end": stamp1,
        "overloaded": stamp0["loadavg_1m"] > stamp0["nproc"],
        "steal_frac": steal_frac(stamp0, stamp1),
        "setups": setups, "detail": detail, "failures": failures,
        "failed_frac": failed / max(attempted, 1), "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", "%s-s%d-t%d-%d.json"
                           % (workload, seed, trace, int(t_start))), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"detail": {k: record[k] for k in ("overloaded", "steal_frac",
                                                        "failed_frac", "failures", "detail")}}))
    return {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
            "metrics": result_metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true",
                    help="run every workload and print each metric with its unit")
    a = ap.parse_args()
    if a.seconds is None:
        with open(BENCHMARK_JSON) as f:
            a.seconds = json.load(f)["run_seconds"]
    if a.all:
        ok = True
        for w in ("analyst", "board"):
            r = run_workload(w, a.seed, a.seconds, a.trace)
            ok &= r["correct"]
            print("%-12s correct=%s attempted=%d failed=%d"
                  % (w, r["correct"], r["attempted"], r["failed"]))
            for n, v in r["metrics"].items():
                print("  %-44s %14.6g %s" % (n, v["value"], v["unit"]))
        sys.exit(0 if ok else 1)
    if not a.workload:
        ap.error("--workload or --all is required")
    print(json.dumps(run_workload(a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
