#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 bench/run.py --workload etl_daily --seed 1 --seconds 30 --trace 0

Builds the program and the harness (bench/build.py), generates the
workload's inputs from the seed (bench/gen.py), runs one cold harness JVM
for about ``--seconds`` of measured work (bench/harness), checks the
outputs in DuckDB (bench/check.py), writes an artifact under
``.bench_runs/artifacts/`` and prints one JSON line with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See bench/README.md.
"""
import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
RUNS = os.path.join(ROOT, ".bench_runs")
DEADLINE_S = 170

# Registry workloads: query -> domain. Sized so one cold pass plus one warm
# pass fits a run; README.md says why each query is in.
REGISTRY = {
    "registry_batch": {
        "weekly_agg_orders": "etl", "anomaly_zscore": "timeseries",
        "pmi_collocations": "corpus", "dedup_groups": "dedup",
        "knn_ivfadc_topk": "vector",
        "k_core_parts": "graph", "triangle_count": "graph",
        "k_truss_parts": "graph"},
    "registry_stream": {
        "stream_zscore": "stream", "stream_user_totals": "stream",
        "stream_sessions_window": "stream", "stream_dedup_final": "stream",
        "incremental_simhash_persisted": "stream",
        "stream_simhash_incremental": "stream"},
}
WORKLOADS = ["etl_daily"] + list(REGISTRY)
# Spark on JDK 17 outside spark-submit needs these; same list as build.sbt.
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def inputs(workload, seed, work):
    """Generate the workload's inputs from the seed into the run's work
    directory and return their paths."""
    d = os.path.join(work, "inputs")
    t = time.time()
    if workload == "etl_daily":
        csv, lookup, rows = gen.etl_inputs(seed, d)
        got = {"csv": csv, "lookup": lookup, "rows": rows}
    else:
        got = {"data": gen.registry_tables(seed, d)}
    log(f"inputs generated in {time.time() - t:.2f}s")
    return got


def run_jvm(classes, args, work, budget):
    cp = os.pathsep.join([classes, os.path.join(build.SPARK_JARS, "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m",
            f"-Dlog4j2.configurationFile={os.path.join(build.BENCH, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-cp", cp, "graftbench.Harness"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        cmd += ["--launched", str(time.time_ns())]
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"harness JVM exceeded {budget:.0f}s; see {work}/jvm.log")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM failed ({rc})")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def verify(workload, res, inp, work):
    """Mark failed ops in place; return the list of check failures."""
    problems = []
    ops = res["ops"]
    for o in ops:
        o["failed"] = bool(o["error"])
        if o["error"]:
            problems.append(f"{o['pass']} {o['name']}: {o['error']}")
    if workload == "etl_daily":
        for o in ops:
            if not o["failed"] and o["rows_raw"] != inp["rows"]:
                o["failed"] = True
                problems.append(f"{o['pass']}: QA rows_raw {o['rows_raw']} != "
                                f"{inp['rows']} generated")
            if not o["failed"] and o["push_rows"] != ops[0]["push_rows"]:
                o["failed"] = True
                problems.append(f"{o['pass']}: pushed {o['push_rows']} rows, "
                                f"cold run {ops[0]['push_rows']}")
        bad = check.etl_weekly(inp["csv"], inp["lookup"],
                               os.path.join(work, "artifacts", "weekly"))
        if bad and not ops[-1]["failed"]:
            ops[-1]["failed"] = True
        problems += bad
        return problems
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    want = check.oracle_counts(inp["data"], oracles)
    cold = {o["name"]: o for o in ops if o["pass"] == "cold"}
    for o in ops:
        if o["failed"]:
            continue
        expect = want[o["name"]] if o["pass"] == "cold" else cold[o["name"]]["rows"]
        if o["rows"] != expect:
            o["failed"] = True
            problems.append(f"{o['pass']} {o['name']}: {o['rows']} rows, "
                            f"expected {expect}")
        o["fingerprint_changed"] = o["pass"] != "cold" and \
            o["hash"] != cold[o["name"]]["hash"]
    return problems


def declared(trace):
    """The metrics BENCHMARK.json declares for this mode, name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    started = time.time()

    t = time.time()
    classes = build.build()
    log(f"build ready in {time.time() - t:.2f}s")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(RUNS, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inp = inputs(a.workload, a.seed, work)
    args = ["--workload", a.workload, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores())]
    if a.workload == "etl_daily":
        args += ["--csv", inp["csv"], "--lookup", inp["lookup"]]
    else:
        queries = list(REGISTRY[a.workload])
        random.Random(a.seed).shuffle(queries)
        domains = REGISTRY[a.workload]
        args += ["--data", inp["data"], "--queries", ",".join(queries),
                 "--domains", ",".join(f"{q}:{domains[q]}" for q in queries)]
    res = run_jvm(classes, args, work, DEADLINE_S - (time.time() - started))
    problems = verify(a.workload, res, inp, work)
    for p in problems:
        log(f"CHECK FAILED {p}")

    attempted = len(res["ops"])
    failed = sum(o["failed"] for o in res["ops"])
    e2e = {"setup_s": res["setup_s"],
           "cold_s": res["cold_s"],
           "warm_s": statistics.median(res["warm_s"]),
           "peak_heap_mb": res["peak_heap_mb"],
           "ok_ratio": (attempted - failed) / attempted}
    values = res["per_layer"] if a.trace else e2e
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in declared(a.trace).items()}

    art_dir = os.path.join(RUNS, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
           "seconds": a.seconds, "cores": res["cores"], "end_to_end": e2e,
           "raw": {k: res[k] for k in ("setup_s", "cold_s", "warm_s")},
           "per_layer": res.get("per_layer"), "self_s": res.get("self_s"),
           "ops": res["ops"], "problems": problems}
    with open(os.path.join(art_dir, f"{tag}.json"), "w") as f:
        json.dump(art, f, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(art_dir, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    log(f"run done in {time.time() - started:.1f}s")
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
