#!/usr/bin/env python3
"""Serving benchmark for graft.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds graft and the harness from the checkout (perfbench/build.py), writes
the seeded inputs (perfbench/gen.py), runs one JVM that sets graft up the
way `graft.Serve` does and drives the workload (perfbench/scala), checks
the outputs, and prints one JSON line last: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 175  # a run must end within 180 s once the build is done
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classes, workload, work, seconds, trace, timeout):
    cmd = ["java"] + [a for p in JVM_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classes + os.pathsep + os.path.join(build.SPARK_JARS, "*"),
        "perfbench.ServeBench", workload, work, str(seconds), str(trace)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("perfbench: benchmark JVM failed (%s)" % rc)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def _equal_rows(a, b):
    """Gate output vs oracle, selfcheck.py's rule: exact on keys; a value may
    differ by at most one rounding quantum, on at most 5% of rows."""
    if len(a) != len(b):
        return False
    off = 0
    for ra, rb in zip(a, b):
        *ka, va = ra
        *kb, vb = rb
        if ka != kb:
            return False
        if va == vb or (va != va and vb != vb):
            continue
        if va is None or vb is None or abs(va - vb) > 1.01 * _quantum(a, b):
            return False
        off += 1
    return off <= 0.05 * len(a)


def _quantum(a, b):
    vals = [r[-1] for r in a + b if r[-1] is not None and r[-1] == r[-1]]
    for n in range(10):
        if all(round(v, n) == v for v in vals):
            return 10.0 ** -n
    return 1e-9


def check_gates(gates, check_dir):
    """Gate-grid probes against their oracle SQL run in DuckDB over the same
    table. Returns the names that do not match."""
    import duckdb
    con = duckdb.connect()
    con.sql("CREATE VIEW events AS SELECT * FROM '%s/events.parquet'" % check_dir)
    bad = []
    for g in gates:
        spark_df = con.sql("SELECT * FROM '%s/*.parquet'" % g["path"]).df()
        duck_df = con.sql(g["sql"]).df()
        cols = sorted(spark_df.columns)
        if cols != sorted(duck_df.columns) or "value" not in cols:
            bad.append(g["name"])
            continue
        order = [c for c in cols if c != "value"] + ["value"]
        rows = [sorted(map(tuple, df[order].astype(object).where(df[order].notna(), None).values.tolist()),
                       key=lambda r: tuple(str(x) for x in r[:-1]))
                for df in (spark_df, duck_df)]
        if not _equal_rows(*rows):
            bad.append(g["name"])
    return bad


def end_to_end(r, workload):
    ops = r["window"]["ops"]
    space = r["space_end"]
    return {
        "setup_s": statistics.median(s["total_s"] for s in r["setups"]),
        "ops_per_s": stats.service_rate(ops, gen.MIX.get(workload)),
        "ok_frac": sum(o["ok"] for o in ops) / len(ops),
        "cache_mb": r["space"]["cache_bytes"] / 2 ** 20,
        "space_amp": (space["cache_bytes"] + space["store_bytes"]) / space["user_bytes"],
    }


def per_layer(r):
    """Every per-layer metric; a layer the workload does not use reads 0."""
    t = r["traced"]
    ops = t["window"]["ops"]
    n = len(ops)
    sp = t["spark"]
    by_kind = lambda k, part=None: [o["parts"].get(part, 0.0) if part else o["ms"]
                                    for o in ops if o["kind"] == k]
    setup = lambda k: statistics.median(s[k] for s in r["setups"])
    writes = [o for o in ops if o["cls"] == "write"]
    direct = t.get("direct", [])
    one = {(o["client"], o["index"]): o["ms"] for o in t.get("one_client", [])}
    untraced, tail_p, tail, n_reads = stats.summary([o for o in r["window"]["ops"] if o["cls"] == "read"])
    wp50, _, wtail, _ = stats.summary([o for o in r["window"]["ops"] if o["cls"] == "write"])
    traced = stats.summary([o for o in ops if o["cls"] == "read"])[0]
    return {
        "setup.session_ms": setup("session_ms"),
        "setup.ingest_ms": setup("ingest_ms"),
        "setup.store_build_ms": setup("store_build_ms"),
        "setup.server_start_ms": setup("server_start_ms"),
        "promql.parse_ms": stats.mean(d["parse_ms"] for d in direct),
        "promql.build_ms": stats.mean(d["build_ms"] - d["parse_ms"] for d in direct),
        "promql.build_jobs": stats.mean(d["build_jobs"] for d in direct),
        "spark.plan_ms": sp["plan_ms"] / n,
        "spark.jobs_per_op": sp["jobs"] / n,
        "spark.stages_per_op": sp["stages"] / n,
        "spark.tasks_per_op": sp["tasks"] / n,
        "spark.exec_ms": sp["job_span_ms"] / n,
        "spark.shuffle_bytes_per_op": sp["shuffle_bytes"] / n,
        "spark.task_parallelism": sp["exec_run_ms"] / max(1, sp["stage_span_ms"]),
        "spark.core_util": sp["exec_run_ms"] / (t["window"]["wall_s"] * 1000.0 * t["cores"]),
        "spark.gc_ms_per_op": sp["gc_ms"] / n,
        "spark.spill_bytes_per_op": sp["spill_bytes"] / n,
        "server.self_ms": stats.mean(one[(d["client"], d["index"])] - d["build_ms"] - d["exec_ms"]
                                     for d in direct),
        "server.wait_ms": stats.mean(o["ms"] - one[(o["client"], o["index"])] for o in ops if one),
        "server.response_bytes_per_op": stats.mean(o["bytes"] for o in ops),
        "sources.rollup_append_ms": stats.mean(by_kind("rollup_append")),
        "sources.rollup_read_ms": stats.mean(by_kind("rollup_read")),
        "sources.jobs_per_mutation": stats.mean(o["jobs"] for o in writes),
        "sources.bytes_written_per_input_byte": (
            t["store_bytes_written"] / t["user_bytes_appended"] if t.get("user_bytes_appended") else 0.0),
        "sources.files_per_store": t.get("files_per_store", 0.0),
        "llm.search_append_ms": stats.mean(by_kind("search_append")),
        "llm.search_remove_ms": stats.mean(by_kind("search_remove", "remove")),
        "llm.search_compact_ms": stats.mean(
            by_kind("search_remove", "compact") + by_kind("search_remove", "vacuum")),
        "llm.search_read_ms": stats.mean(by_kind("search")),
        "read_p50_ms": untraced or 0.0,
        "write_p50_ms": wp50 or 0.0,
        "write_tail_ms": wtail or 0.0,
        "read_tail_ms": tail or 0.0,
        "read_tail_pct": tail_p or 0.0,
        "read_samples": n_reads,
        "trace.overhead_frac": traced / untraced - 1.0 if untraced and traced else 0.0,
    }


def declared(trace):
    """The metrics BENCHMARK.json declares for this kind of run: name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.CLIENTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes, digest = build.ensure()
    t0 = time.time()
    work = os.path.join(ROOT, ".bench_build", "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.write_inputs(a.workload, a.seed, work)
        r = run_jvm(classes, a.workload, work, a.seconds, a.trace,
                    timeout=DEADLINE_S - (time.time() - t0))
        mismatches = r["checks"]["mismatches"] + r["final_checks"]["mismatches"]
        mismatches += ["gate " + g for g in check_gates(r["checks"]["gates"], os.path.join(work, "check"))]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = r["window"]["ops"] + (r["traced"]["window"]["ops"] if a.trace else [])
    _, tail_p, _, n_reads = stats.summary([o for o in r["window"]["ops"] if o["cls"] == "read"])
    env = dict(r["env"], source_sha256=digest, workload=a.workload, seed=a.seed)
    print("env " + json.dumps(env, sort_keys=True))
    print("phases_s " + json.dumps(dict(r["phases_s"], total=round(time.time() - t0, 3))))
    print("%s: %d reads, tail = p%s; outputs checked: %d, mismatches: %s" % (
        a.workload, n_reads, tail_p, r["checks"]["compared"] + r["final_checks"]["compared"]
        + len(r["checks"]["gates"]), mismatches or "none"))
    kinds = sorted({o["kind"] for o in r["window"]["ops"]})
    print("p50 ms by kind: " + ", ".join("%s n=%d %.0f" % (
        k, len(v), statistics.median(v)) for k in kinds
        for v in [[o["ms"] for o in r["window"]["ops"] if o["kind"] == k]]))
    values = per_layer(r) if a.trace else end_to_end(r, a.workload)
    metrics = {k: {"value": float(values[k]), "unit": u} for k, u in declared(a.trace).items()}
    print(json.dumps({"correct": not mismatches, "attempted": len(ops),
                      "failed": sum(not o["ok"] for o in ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
