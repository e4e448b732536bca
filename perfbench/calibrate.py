#!/usr/bin/env python3
"""Define the workloads' pools: write perfbench/pools.json.

    python3 perfbench/calibrate.py

Run once, when the benchmark is defined; run.py only reads the result, so the
build being measured can change neither which queries a workload samples nor
what their outputs are checked against. The steps:

1. classify every registered query: build it in a new session over sf0.001
   tables and record the files its plans scan, its output schema and whether
   it has a DuckDB oracle (graft.SparkEntry.oracleSql);
2. pool membership by rule (benchlib.pools): small-queries takes every query
   that builds, fact-analytics those whose plans scan only the star-schema
   tables and events. Queries that fail to build or to run are listed under
   left_out;
3. time every pool member once, as its workload runs it, for its reference
   cost: run.py sorts a pool by these costs into cost strata, takes the
   middle query of each as the workload's timed core and draws the seeded
   extras one per stratum of the rest;
4. keep the output schema of every pooled query without an oracle: run.py
   checks those outputs by rows and schema.
"""
import json
import os
import shutil
import statistics

import benchlib
import build
import run

CLASSIFY_SF = 0.001


def classification(classpath, tag):
    """Per-query scans, schema and oracle flag of this build."""
    path = os.path.join(run.OUT, f"classify-{tag}.json")
    if not os.path.exists(path):
        run.log("classifying every registered query")
        work = os.path.join(run.OUT, "work", "classify")
        shutil.rmtree(work, ignore_errors=True)
        tmp = os.path.join(work, "tmp")
        data = run.data_dir(CLASSIFY_SF)
        rec = run.jvm(classpath, run.base_spec("classify", work, path + ".part", data), tmp,
                      os.path.join(run.OUT, "classify.log"), 900)
        rec.update(data_dir=data, tmp_dir=os.path.realpath(tmp))
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        shutil.rmtree(work, ignore_errors=True)
    with open(path) as f:
        return json.load(f)


def costs(classpath, prog_tag, workload, pool):
    """Seconds of one timed execution of every query in pool."""
    wl = run.WORKLOADS[workload]
    data = run.data_dir(wl["sf"])
    work = os.path.join(run.OUT, "work", f"calibrate-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = run.private_tier(run.warm_tier(classpath, prog_tag, wl["sf"], data), work)
    spec = run.base_spec("run", work, os.path.join(run.OUT, f"calibrate-{workload}.json"), data)
    spec.update(workload=workload, queries=pool, timed=pool, reps=1, fresh_session=wl["fresh"],
                trace=False, check_dir=os.path.join(work, "check"), check=False)
    rec = run.jvm(classpath, spec, tmp, os.path.join(run.OUT, f"calibrate-{workload}.log"),
                  7200)
    shutil.rmtree(work, ignore_errors=True)
    times = {}
    for e in rec["execs"]:
        if e["timed"] and e["ok"]:
            times.setdefault(e["name"], []).append((e["end_ms"] - e["start_ms"]) / 1e3)
    return {q: round(statistics.median(v), 4) for q, v in sorted(times.items())}


def define(classified, pools, measured):
    """pools.json's content from a classification, the rule's pools and the
    costs measured for them ({workload: {query: seconds}})."""
    queries = classified["queries"]
    pooled = set().union(*measured.values())
    failed = {q for w, wl in run.WORKLOADS.items() for q in pools[wl["pool"]]
              if q not in measured[w]}
    return {
        "pools": measured,
        "sketch_schemas": {q: queries[q]["schema"] for q in sorted(pooled)
                           if not queries[q]["oracle"]},
        "left_out": {q: (f"{queries[q]['error_class']}: {queries[q]['error']}"
                         if "error_class" in queries[q] else "failed when timed")
                     for q in sorted(failed | {q for q, e in queries.items()
                                               if "error_class" in e})},
    }


def main():
    classpath, prog_tag, tag = build.build()
    classified = classification(classpath, tag)
    pools = benchlib.pools(classified["queries"], classified["data_dir"],
                           classified["tmp_dir"])
    measured = {}
    for w, wl in sorted(run.WORKLOADS.items()):
        measured[w] = costs(classpath, prog_tag, w, pools[wl["pool"]])
        run.log(f"{w}: {len(measured[w])} queries timed")
    with open(run.POOLS, "w") as f:
        json.dump(define(classified, pools, measured), f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
