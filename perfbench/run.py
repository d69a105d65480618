#!/usr/bin/env python3
"""The graft benchmark: one command that sets up, runs and checks a workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark harness from source with sbt (offline); later runs reuse the build
while the sources are unchanged. Inputs are generated from the seed under
``perfbench/.work``. Prints each metric as ``name value unit``, then one JSON
line: ``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("stmt_ingest", "fin_analytics")

# Input sizes (row counts). The query mixes read the same tables; the
# ingest workload's kernel probe reads only its documents.
TABLES = dict(customers=500, orders=5000, docs=200, vecs=200)
INGEST = dict(users=200, history_months=12, history_rows=20, file_rows=20)
INGEST_RATE = 2.0  # files per second
INGEST_WARM_FILES = 16  # dropped during the warm-up, at the same rate

END_TO_END = {
    "latency_p50_s": "s", "latency_p90_s": "s", "throughput_ops_s": "1/s",
    "ok_frac": "frac", "setup_s": "s", "peak_rss_mb": "MB", "retained_heap_mb": "MB",
}
PER_LAYER = {
    "engine.jobs_per_op": "count", "engine.stages_per_op": "count",
    "engine.tasks_per_op": "count", "engine.no_job_frac": "frac",
    "engine.task_cpu_s_per_op": "s", "engine.cpu_busy_frac": "frac",
    "engine.shuffle_mb_per_op": "MB", "engine.spill_mb_per_op": "MB",
    "engine.peak_exec_mem_mb": "MB", "engine.gc_s_per_op": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.plan_s": "s",
    "queries.exec_s": "s", "queries.exchanges": "count",
    "streaming.batches": "count", "streaming.files_per_batch": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s", "streaming.queue_wait_s": "s",
    "streaming.backlog_max_files": "count",
    "pipeline.history_load_s": "s", "pipeline.report_write_s": "s",
    "pipeline.actions_per_batch": "count",
    "ops.validate_s": "s", "ops.upsert_s": "s", "ops.upsert_write_amp": "ratio",
    "ops.space_amp": "ratio", "ops.table_files": "count", "ops.store_builds": "count",
    "ops.residue_blocks": "count", "ops.residue_mb": "MB",
    "sources.rows_in": "count", "sources.rows_quarantined": "count",
    "sources.input_mb_per_op": "MB",
    **{f"expressions.{fn}.ns_per_row": "ns" for fn in
       ("minhash_sigs", "word_shingles", "lang_id_ngram", "text_normalize",
        "pii_pseudonymize", "deflate_ratio")},
    "loadgen.lag_max_s": "s", "trace.overhead_frac": "frac",
}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of everything the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    lines = open(log).read().splitlines()
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, log, budget):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    java = ["java", *[a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
            "-Xmx1g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", *args]
    with open(log, "w") as out:
        p = subprocess.Popen(java, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload did not finish within {budget:.0f}s, see {log}")
    if rc != 0:
        fail(f"workload exited {rc}, see {log}")


def pct(xs, p):
    """Percentile by linear interpolation between closest ranks."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def end_to_end(res):
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    lat = [o["end"] - o["due"] for o in ok]
    span = max(o["end"] for o in ok) - min(o["due"] for o in ok) if ok else 0
    return {
        "latency_p50_s": pct(lat, 50) if lat else float("nan"),
        "latency_p90_s": pct(lat, 90) if lat else float("nan"),
        "throughput_ops_s": len(ok) / span if span > 0 else 0.0,
        "ok_frac": len(ok) / len(ops),
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "retained_heap_mb": res["retained_heap_mb"],
    }


def trace_overhead(res):
    """Traced half over untraced half: median of per-query latency ratios
    (mixes) or the ratio of median file latency (ingest), minus one."""
    by = {0: {}, 1: {}}
    for o in res["ops"]:
        if o["ok"]:
            by[o["phase"]].setdefault(o["name"], []).append(o["end"] - o["due"])
    if res["workload"] == "stmt_ingest":
        a = [x for v in by[0].values() for x in v]
        b = [x for v in by[1].values() for x in v]
        return statistics.median(b) / statistics.median(a) - 1 if a and b else float("nan")
    ratios = [statistics.median(by[1][k]) / statistics.median(by[0][k])
              for k in by[0] if k in by[1]]
    return statistics.median(ratios) - 1 if ratios else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found: run from a checkout of the repository root")
    if shutil.which("sbt") is None and not os.path.exists(os.path.join(BUILD, "classpath.txt")):
        fail("sbt not found")

    cp = build()
    t_run = time.monotonic()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    tables = os.path.join(WORK, "tables")
    gen.write_tables(a.seed, tables, **TABLES)
    if a.workload == "stmt_ingest":
        data = os.path.join(WORK, "statements")
        files = INGEST_WARM_FILES + int(round(a.seconds * INGEST_RATE))
        manifest = gen.write_statements(a.seed, data, files=files, **INGEST)
    else:
        data = tables

    budget = 175 - (time.monotonic() - t_run) - 15
    run_jvm(cp, ["--workload", a.workload, "--data", data, "--docs", f"{tables}/documents.parquet",
                 "--work", WORK,
                 "--seconds", str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace),
                 "--rate", str(INGEST_RATE),
                 "--warm-files", str(INGEST_WARM_FILES)],
            os.path.join(WORK, "jvm.log"), budget)
    res = json.load(open(os.path.join(WORK, "result.json")))

    c = res["checks"]
    if a.workload == "stmt_ingest":
        committed = c["warm_files"] + [o["name"] for o in res["ops"] if o["ok"]]
        problems = check.check_ingest(manifest, committed, c["table"], c["reports"], c["quarantine"])
    else:
        problems = check.check_mix(data, c["outputs"], c["oracle"])
    if res["store_builds"] > 0:
        problems.append(("ops.store_builds", f"{res['store_builds']} stores built in the window"))
    for name, why in problems:
        print(f"CHECK FAILED {name}: {why}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"OP FAILED {o['name']}: {o['error']}")

    if a.trace:
        values = dict(res["layers"], **{"trace.overhead_frac": trace_overhead(res)})
        units = PER_LAYER
    else:
        values, units = end_to_end(res), END_TO_END
    metrics = {k: {"value": values.get(k, float("nan")), "unit": u} for k, u in units.items()}
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
        if m["value"] != m["value"]:  # NaN (no completed op) is not JSON
            m["value"] = None
    ok = sum(1 for o in res["ops"] if o["ok"])
    print(f"ops {len(res['ops'])} attempted, {ok} completed, cpus {res['cpus']}")
    print(json.dumps({
        # a file not committed or a query that threw fails the run
        "correct": not problems and ok == len(res["ops"]),
        "attempted": len(res["ops"]),
        "failed": len(res["ops"]) - ok,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
