#!/usr/bin/env python3
"""The repository's benchmark. See perfbench/README.md.

    python3 perfbench/run.py --workload small-queries --seed 1 --seconds 15 --trace 0

Builds the program from source (perfbench/build.py), generates the input
tables, takes the workload's queries from its pool (perfbench/pools.json):
a fixed core that is timed and further queries drawn with --seed; runs them
in one JVM, checks every output and prints the metrics. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import build  # noqa: E402
import datagen  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
DATA_SEED = 42        # the tables are a fixed fixture per scale factor
HEAP = "4g"
POOLS = os.path.join(HERE, "pools.json")

# A run executes the workload's core (`benchlib.core`: CORE queries fixed by
# the pool, the same in every run) and EXTRA queries the seed draws from the
# rest of the pool, in a seeded order. Each runs once untimed, writing its
# output for the checks; then the core runs `reps` more times, timed, in
# passes:
# fresh: every timed execution builds the query in a new session with an
#        empty codegen cache, so it pays its per-query fixed cost again;
# warm:  every execution runs in the set-up's session.
# query_s_p50 is the median over the core of each query's median time.
CORE, EXTRA = 6, 2
WORKLOADS = {
    "small-queries": dict(sf=0.01, pool="all", reps=3, fresh=True),
    "fact-analytics": dict(sf=0.01, pool="fact", reps=4, fresh=False),
}

QUERY_SPANS = ("query", "build", "plan", "execute", "job", "stage")
SETUP_SPANS = ("setup", "session", "warmup")
END_TO_END = [("query_s_p50", "s"), ("queries_per_s", "1/s"), ("setup_s", "s"),
              ("ok_frac", "frac"), ("derived_mb", "MB")]
# printed with every run but not declared in BENCHMARK.json: with 18-24
# timed executions at most two lie above p90, short of the ten a declared
# percentile needs; the peak live heap depends on when the last GC ran (over
# ten runs of the same code its spread was 1.7 to 4.3 times its median)
INFO = [("query_s_p90", "s"), ("heap_peak_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def data_dir(sf, seed=DATA_SEED):
    d = os.path.join(OUT, "data", f"sf{sf}-seed{seed}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, sf, seed)
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return d


def jvm(classpath, spec, tmp_dir, log_path, timeout):
    """Run the harness JVM on one spec; return its record file as a dict."""
    os.makedirs(tmp_dir, exist_ok=True)
    for k in ("local_dir", "warehouse"):
        os.makedirs(spec[k], exist_ok=True)
    spec_path = spec["out"] + ".spec.json"
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-Xss8m"] + build.JVM_OPENS +
           [f"-Djava.io.tmpdir={tmp_dir}", "-cp", classpath, "graftbench.Main", spec_path])
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=OUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: JVM ({spec['mode']}) timed out; log {log_path}")
        finally:  # also on SIGTERM (see main): no JVM outlives the benchmark
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        raise SystemExit(f"perfbench: JVM ({spec['mode']}) exited {code}; log {log_path}")
    with open(spec["out"]) as f:
        return json.load(f)


def base_spec(mode, work, out, data):
    return dict(mode=mode, out=out, data_dir=data, cores=cores(),
                local_dir=os.path.join(work, "spark-local"),
                warehouse=os.path.join(work, "warehouse"))


def warm_tier(classpath, tag, sf, data):
    """The derived-file tier for one scale factor, built once per program
    build (it depends on the program and the data only)."""
    tmp = os.path.join(OUT, "tier", f"sf{sf}-{tag}")
    done = tmp + ".complete"
    if not os.path.exists(done):
        log(f"building the derived-file tier at sf{sf} (once per build)")
        shutil.rmtree(tmp, ignore_errors=True)
        work = os.path.join(OUT, "work", f"tier-sf{sf}")
        log_path = os.path.join(OUT, f"tier-sf{sf}.log")
        jvm(classpath, base_spec("tier", work, os.path.join(OUT, f"tier-sf{sf}.json"), data),
            tmp, log_path, 600)
        shutil.rmtree(work, ignore_errors=True)
        failed = prewarm_failures(log_path)
        if failed:
            raise SystemExit(f"perfbench: Prewarm failed building the tier: {failed}")
        open(done, "w").close()
    return tmp


def private_tier(tier, work):
    """The run's own temporary dir: a hard-linked copy of the derived-file
    tier. DerivedFiles publishes a new file by rename and never rewrites one,
    so whatever a run builds stays out of the shared tier."""
    tmp = os.path.join(work, "tmp")
    shutil.copytree(tier, tmp, copy_function=os.link)
    return tmp


def prewarm_failures(log_path):
    """(build, line) for every build graft.Prewarm reports as failed; Prewarm
    logs a failure to stderr and carries on."""
    with open(log_path) as f:
        return [(line.split()[1], line.strip()) for line in f
                if line.startswith("[prewarm] ") and " failed: " in line]


def parity(data, check_dir, names):
    """Compare Spark's outputs against DuckDB with tools/parity.py; return
    {name: None | error string} for every name."""
    if not names:
        return {}
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "parity.py"), data,
                        check_dir] + sorted(names), capture_output=True, text=True)
    verdict = {}
    for line in r.stdout.splitlines():
        if line.startswith("PASS "):
            verdict[line.split()[1]] = None
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdict[name] = why.splitlines()[0] if why else "parity failure"
    for n in names:
        verdict.setdefault(n, f"no parity verdict (parity.py exit {r.returncode})")
    return verdict


def end_to_end(rec, timed):
    """End-to-end metrics of one run record, plus their sample counts."""
    secs = [(e["end_ms"] - e["start_ms"]) / 1e3 for e in timed]
    p90, above = benchlib.percentile(secs, 0.9)
    per_query = benchlib.per_query_medians((e["name"], s) for e, s in zip(timed, secs))
    return {
        "query_s_p50": (statistics.median(per_query.values()), len(per_query)),
        "query_s_p90": (p90, len(secs), above),
        "queries_per_s": (len(secs) / sum(secs), len(secs)),
        "setup_s": ((rec["setup"]["end_ms"] - rec["jvm_start_ms"]) / 1e3, 1),
        "heap_peak_mb": (rec["heap_peak_mb"], 1),
        "derived_mb": (rec["derived_bytes"] / 1e6, 1),
    }


def per_layer(rec, timed, checks, cores_used):
    """Per-layer metrics of a traced run: means per timed query execution,
    set-up figures per set-up, derived-tier figures over the whole run."""
    windows = rec["trace"]["windows"]
    spans = rec["trace"]["spans"]
    q = [w for w in windows if w["kind"] == "query"]
    n = max(1, len(q))
    mean = lambda k, scale=1.0: sum(w[k] for w in q) * scale / n  # noqa: E731
    exec_s = [benchlib.union_length(w["job_intervals"]) / 1e3 for w in q]
    out_rows = {c["name"]: c["rows"] for c in checks}
    scan_rows = sum(w["scan_rows"] for w in q)
    rows_out = sum(out_rows.get(w["name"], 0) for w in q)
    m = {
        "build.s": statistics.fmean((e["build_end_ms"] - e["start_ms"]) / 1e3 for e in timed),
        "build.jobs": mean("build_jobs"), "build.tasks": mean("build_tasks"),
        "plan.analysis_ms": mean("analysis_ms"), "plan.optimization_ms": mean("optimization_ms"),
        "plan.planning_ms": mean("planning_ms"),
        "codegen.compiles": mean("compiles"), "codegen.compile_ms": mean("compile_ns", 1e-6),
        "codegen.source_kb": mean("source_bytes", 1 / 1024),
        "scan.bytes": mean("scan_bytes"), "scan.rows": mean("scan_rows"),
        "scan.rows_per_output_row": scan_rows / max(1, rows_out),
        "exec.s": sum(exec_s) / n, "exec.jobs": mean("jobs"), "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"), "exec.task_run_s": mean("task_run_ms", 1e-3),
        "exec.task_cpu_s": mean("task_cpu_ns", 1e-9), "exec.gc_s": mean("gc_ms", 1e-3),
        "exec.sched_delay_s": mean("sched_delay_ms", 1e-3),
        "exec.idle_core_frac": 1 - sum(w["task_run_ms"] for w in q) / 1e3 /
        max(1e-9, sum(exec_s) * cores_used),
        "shuffle.write_bytes": mean("shuffle_write_bytes"),
        "shuffle.read_bytes": mean("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": mean("fetch_wait_ms", 1e-3), "spill.bytes": mean("spill_bytes"),
    }
    for k in ("ngrams", "inter_size", "minhash", "jaro_winkler", "dot"):
        m[f"functions.{k}_s"] = rec["probes"][k]
    # Prewarm names its session-memo builds rank:* and memo:*
    rank = lambda name: name.startswith(("rank:", "memo:"))  # noqa: E731
    m["prewarm.file_tier_s"] = sum(s for name, s in rec["prewarm"] if not rank(name))
    m["prewarm.rank_tier_s"] = sum(s for name, s in rec["prewarm"] if rank(name))
    builds = sum(w["derived_builds"] for w in windows)
    hits = sum(w["derived_hits"] for w in windows)
    m["derived.builds"] = builds
    m["derived.bytes_written"] = sum(w["derived_bytes_written"] for w in windows)
    m["derived.hit_ratio"] = hits / max(1, hits + builds)
    # self time per layer, over the span trees of the timed executions, the
    # set-up and Prewarm; the set-up's jobs and stages count as its `exec` part
    roots = {w["span"]: w["kind"] for w in windows}
    parent = {s[0]: s[1] for s in spans}

    def root_kind(sid):
        while parent.get(sid, 0) != 0:
            sid = parent[sid]
        return roots.get(sid)
    kinds = {s[0]: root_kind(s[0]) for s in spans}
    by_q = benchlib.self_time_by_layer([s for s in spans if kinds[s[0]] == "query"])
    by_s = benchlib.self_time_by_layer([s for s in spans if kinds[s[0]] == "setup"])
    by_p = benchlib.self_time_by_layer([s for s in spans if kinds[s[0]] == "prewarm"])
    for layer in QUERY_SPANS:
        m[f"self.{layer}_s"] = by_q.get(layer, 0.0) / 1e3 / n
    for layer in SETUP_SPANS:
        m[f"self.{layer}_s"] = by_s.get(layer, 0.0) / 1e3
    m["self.setup_exec_s"] = (by_s.get("job", 0.0) + by_s.get("stage", 0.0)) / 1e3
    m["self.prewarm_s"] = by_p.get("prewarm", 0.0) / 1e3
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an error: the JVM is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    if not os.path.exists(os.path.join(ROOT, "tools", "parity.py")):
        raise SystemExit("perfbench: run from a checkout of the repository (tools/parity.py)")
    wl = WORKLOADS[args.workload]

    with open(POOLS) as f:
        pools = json.load(f)
    classpath, prog_tag, tag = build.build()
    # every workload's tier is built by the first run, so that only that run
    # pays for them
    tiers = {sf: warm_tier(classpath, prog_tag, sf, data_dir(sf))
             for sf in sorted({w["sf"] for w in WORKLOADS.values()})}
    costs = pools["pools"][args.workload]
    core, extra, sample = benchlib.draw(list(costs), costs, CORE, EXTRA, args.seed)
    data = data_dir(wl["sf"])
    t_start = time.time()  # the 170 s budget below excludes once-per-build steps

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    res_dir = os.path.join(OUT, "results", run_id)
    work = os.path.join(OUT, "work", f"{run_id}-{os.getpid()}")
    shutil.rmtree(res_dir, ignore_errors=True)
    os.makedirs(res_dir)
    check_dir = os.path.join(work, "check")
    os.makedirs(check_dir, exist_ok=True)
    tmp = private_tier(tiers[wl["sf"]], work)

    spec = base_spec("run", work, os.path.join(res_dir, "records.json"), data)
    spec.update(workload=args.workload, queries=sample, timed=core, reps=wl["reps"],
                fresh_session=wl["fresh"], trace=bool(args.trace), check_dir=check_dir)
    jvm_log = os.path.join(res_dir, "jvm.log")
    try:
        rec = jvm(classpath, spec, tmp, jvm_log, max(60, 170 - (time.time() - t_start)))

        # correctness, outside the timed window
        failures = list(rec["failures"])
        failures += [dict(query=build_name, stage="prewarm", error_class="PrewarmFailure",
                          error=line) for build_name, line in prewarm_failures(jvm_log)]
        checks = {c["name"]: c for c in rec["checks"]}
        sketch = pools["sketch_schemas"]
        verdicts = parity(data, check_dir, [n for n in checks if n not in sketch])
        for name, cls, why in benchlib.check_failures(
                sample, {f["query"] for f in failures}, checks, sketch, verdicts):
            failures.append(dict(query=name, stage="check", error_class=cls, error=why))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed_queries = {f["query"] for f in failures}
    attempted = len(set(sample) | failed_queries)
    timed = [e for e in rec["execs"] if e["timed"] and e["ok"]]
    if not timed:
        for f in failures:
            print(f"FAILED {f['query']} [{f['stage']}] {f['error_class']}")
        raise SystemExit("perfbench: no timed execution succeeded; nothing to measure")
    e2e = end_to_end(rec, timed)
    e2e["ok_frac"] = (1 - len(failed_queries) / attempted, attempted)

    manifest = dict(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        git_sha=git_sha(), source_stamp=tag, nproc=os.cpu_count(), cores_used=cores(),
        shuffle_partitions=cores(), jvm_heap=HEAP, env=rec["env"], scale_factor=wl["sf"],
        data_seed=DATA_SEED, derived_tier="warm",
        pool=wl["pool"], pool_size=len(costs), core=core, extra=extra, order=sample,
        fresh_session=wl["fresh"], reps=wl["reps"],
        failed_frac=len(failed_queries) / attempted, failures=failures,
        left_out_of_pools=pools["left_out"], setup_detail=rec["setup"])
    per_query = {}
    for e in rec["execs"]:
        d = per_query.setdefault(e["name"], dict(timed_s=[], check_s=None))
        s = (e["end_ms"] - e["start_ms"]) / 1e3
        if e["timed"]:
            d["timed_s"].append(s)
        elif e["pass"] == 0:
            d["check_s"] = s
        d["ok"] = e["ok"]
    for n, c in checks.items():
        per_query[n].update(rows=c["rows"], schema=c["schema"])
    for f in failures:
        per_query.setdefault(f["query"], {}).update(error_class=f["error_class"],
                                                    error=f["error"])
    result = dict(end_to_end={k: v[0] for k, v in e2e.items()},
                  samples={k: v[1:] for k, v in e2e.items()})
    if args.trace:
        result["per_layer"] = per_layer(rec, timed, rec["checks"], cores())
        result["trace_overhead"] = trace_overhead(args, result["end_to_end"])
        with open(os.path.join(res_dir, "spans.json"), "w") as f:
            json.dump(rec["trace"]["spans"], f)
    for name, obj in (("manifest", manifest), ("queries", per_query), ("result", result)):
        with open(os.path.join(res_dir, f"{name}.json"), "w") as f:
            json.dump(obj, f, indent=1, sort_keys=True)
    if not args.trace:
        os.remove(spec["out"])  # raw records are only kept for traced runs

    for name, unit in END_TO_END + INFO:
        v, cnt = e2e[name][0], e2e[name][1]
        above = f" above={e2e[name][2]}" if name == "query_s_p90" else ""
        print(f"{name} {v:.6g} {unit} n={cnt}{above}")
    for f in failures:
        print(f"FAILED {f['query']} [{f['stage']}] {f['error_class']}")
    for name, err in sorted(pools["left_out"].items()):
        print(f"LEFT_OUT {name} [failed to build when the pools were defined] {err[:80]}")
    if args.trace:
        ovh = result["trace_overhead"]
        print("trace_overhead " + (json.dumps(ovh, sort_keys=True) if ovh else "n/a"))
    print(f"detail {os.path.relpath(res_dir, ROOT)}")
    if args.trace:
        metrics = {k: dict(value=v, unit=layer_unit(k)) for k, v in result["per_layer"].items()}
    else:
        metrics = {k: dict(value=e2e[k][0], unit=u) for k, u in END_TO_END}
    print(json.dumps(dict(correct=not failures, attempted=attempted,
                          failed=len(failed_queries), metrics=metrics)))


def layer_unit(name):
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), (".s", "s"), ("_kb", "KiB"),
                         ("_frac", "frac"), ("_ratio", "frac"), ("_per_output_row", "rows/row")):
        if name.endswith(suffix):
            return unit
    return "count"


def trace_overhead(args, traced):
    """Traced minus untraced, as a share of untraced, against the untraced
    result of the same workload and seed in this checkout (if any)."""
    path = os.path.join(OUT, "results", f"{args.workload}-seed{args.seed}-trace0", "result.json")
    if not os.path.exists(path):
        return None
    base = json.load(open(path))["end_to_end"]
    return {k: (traced[k] - base[k]) / base[k] for k in traced if base.get(k)}


def git_sha():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


if __name__ == "__main__":
    main()
