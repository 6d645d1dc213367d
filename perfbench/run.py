#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload reference_olap --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (sbt, offline),
runs the workload in one JVM on local[k] (k = min(4, nproc)), checks every
sampled query against its DuckDB oracle and every chain against its model,
and prints one JSON line last: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Everything it writes goes under
.bench_build/ in the checkout. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import re
import signal
import statistics
import subprocess
import time

WORKLOADS = ["reference_olap", "llm_curation"]
KERNELS = ["graft_shingles", "graft_minhash", "graft_simhash60", "graft_winnow",
           "graft_gram_hashes", "graft_dot", "graft_sqdist_l", "graft_eq_count"]
# the chain operation kinds op_geomean_rel is taken over
COMMIT_KINDS = ("append", "merge", "delete")
OP_KINDS = {"reference_olap": ["load", "wau"],
            "llm_curation": KERNELS + list(COMMIT_KINDS) + ["read", "read_masked"]}
META_KINDS = ("versions", "files", "history")
# share of traced operations whose counts must repeat across the two
# traced passes
MIN_REPEAT = 0.95
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TIME_LIMIT = 170    # seconds a run may take once the build is done
BUILD_LIMIT = 800
JVM_HEAP = "3g"

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, ".bench_build")
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"
            % os.path.expanduser("~/.sbt/repositories"))
OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for all of it; on timeout
    the whole group is killed."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness when the sources changed; returns the
    runtime classpath."""
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    out_log = os.path.join(OUT, "build.log")
    with open(out_log, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       BUILD_LIMIT, cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL)
    if rc != 0:
        fail("build failed (exit %s), see %s" % (rc, out_log))
    with open(out_log) as fh:
        cps = [l.strip() for l in fh if l.startswith("/") and ".jar" in l]
    if not cps:
        fail("build printed no classpath, see %s" % out_log)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def wipe(path):
    subprocess.run(["rm", "-rf", path], check=True)
    os.makedirs(path)


def jvm(cp, sf, run_dir, args, deadline):
    """One benchmark JVM; returns its result.json, or None on failure."""
    wipe(run_dir)
    for d in ("tmp", "target", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = ["java"] + sum((["--add-opens", o + "=ALL-UNNAMED"] for o in OPENS), []) + [
        # C1 only: under the default tiered JIT, C2 kept compiling through
        # the whole run and call times fell from round to round
        "-Xmx" + JVM_HEAP, "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dgraft.bench.target=" + os.path.join(run_dir, "target"),
        "-Dspark.local.dir=" + os.path.join(run_dir, "spark-local"),
        "-Dspark.hadoop.hadoop.tmp.dir=" + os.path.join(run_dir, "tmp"),
        "-Dderby.system.home=" + os.path.join(run_dir, "tmp"),
        "-cp", cp, "graft.perfbench.Main",
        "--sf", sf, "--run", run_dir, "--cores", str(cores()),
        "--costs", os.path.join(BENCH, "costs.tsv")] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as fh:
        rc = run_group(cmd, max(1.0, deadline - time.time()), cwd=run_dir,
                       stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        log("JVM failed (exit %s), see %s" % (rc, os.path.join(run_dir, "jvm.log")))
        return None
    with open(result) as f:
        return json.load(f)


def sf_dir():
    """The read-only tables every query reads: those `graft.Bench` reads by
    default, or PERFBENCH_SF_DIR."""
    if "PERFBENCH_SF_DIR" in os.environ:
        return os.environ["PERFBENCH_SF_DIR"]
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        return re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read()).group(1)


def cores():
    return min(4, len(os.sched_getaffinity(0)))


# ── oracle checks ──────────────────────────────────────────────────────────

def frames_equal(con, oracle_sql, spark_sql):
    """The rule tools/compare.py applies: columns sorted by name, rows
    sorted by every column, values compared as strings."""
    o = con.sql(oracle_sql).df()
    s = con.sql(spark_sql).df()
    o = o.reindex(sorted(o.columns), axis=1)
    s = s.reindex(sorted(s.columns), axis=1)
    if list(o.columns) != list(s.columns):
        return "columns differ: oracle %s, spark %s" % (list(o.columns), list(s.columns))
    if len(o) != len(s):
        return "row counts differ: oracle %d, spark %d" % (len(o), len(s))
    cols = list(o.columns)
    o = o.sort_values(by=cols, kind="mergesort").reset_index(drop=True).astype(str)
    s = s.sort_values(by=cols, kind="mergesort").reset_index(drop=True).astype(str)
    bad = int((~o.eq(s).all(axis=1)).sum())
    return "%d of %d rows differ" % (bad, len(o)) if bad else None


def oracle_checks(res, run_dir, sf):
    """Returns {check name: error} for every query and chain check that
    failed."""
    import duckdb
    con = duckdb.connect()
    # a bounded oracle: one that outgrows this fails its check instead of
    # taking the host's memory; spills stay in the checkout
    con.execute("SET memory_limit='2GB'")
    con.execute("SET temp_directory='%s'" % os.path.join(run_dir, "duckdb_tmp"))
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf, t))
    errors = {}
    for q, sql in res["oracles"].items():
        files = glob.glob(os.path.join(run_dir, "check", q, "*.parquet"))
        try:
            err = frames_equal(con, sql, "SELECT * FROM '%s/check/%s/*.parquet'" % (run_dir, q)) \
                if files else "no result dumped"
        except Exception as e:  # an oracle or read error is a failed check
            err = "compare error: %s" % e
        if err:
            errors["query " + q] = err
    if "load_table" in res:
        # WAU after batch i counts the events before its end bound
        waus = [{r[0].isoformat(): r[1] for r in con.sql(
            CHAIN_ORACLES["wau"] % end).fetchall()} for end in res["load_bounds"][1:]]
        for i, p in enumerate(res["passes"]):
            for j, batch in enumerate(p.get("wau", [])):
                got = {k: int(v) for k, v in (kv.split("=") for kv in batch)}
                if got != waus[j]:
                    errors["pass %d load chain wau after batch %d" % (i, j + 1)] = \
                        "got %s, events give %s" % (got, waus[j])
        loaded = "SELECT event_id, session_id, session_start_sec FROM read_parquet('%s/*/*.parquet')" \
            % res["load_table"]
        sessions = "SELECT event_id, session_id, session_start_sec FROM (%s)" \
            % CHAIN_ORACLES["sessions"]
        diff = con.sql("SELECT (SELECT count(*) FROM (%s)), (SELECT count(*) FROM (%s)), "
                       "(SELECT count(*) FROM ((%s) EXCEPT ALL (%s)))"
                       % (loaded, sessions, loaded, sessions)).fetchone()
        err = None if diff[0] == diff[1] and diff[2] == 0 else \
            "%d rows loaded, %d events, %d loaded rows not in the sessions" % diff
        if err:
            errors["load chain sessions"] = err
    return errors


# WAU and sessions recomputed directly from `events` for the load chain:
# Monday weeks between the weeks of 2024-01-01 and 2024-01-31 over the
# events before a batch's end bound, and the 5-minute-gap sessions with
# `user#startSec` ids.
CHAIN_ORACLES = {
    "wau": """SELECT CAST(date_trunc('week', ts) AS DATE) AS event_week,
                     count(DISTINCT user_id) AS wau
              FROM events
              WHERE CAST(date_trunc('week', ts) AS DATE)
                    BETWEEN DATE '2024-01-01' AND DATE '2024-01-29'
                AND ts < TIMESTAMP '%s'
              GROUP BY 1""",
    "sessions": """WITH lagged AS (
                     SELECT event_id, user_id, ts,
                            CAST(floor(epoch(ts)) AS BIGINT) AS epoch_sec,
                            lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                     FROM events),
                   starts AS (
                     SELECT *, max(CASE WHEN prev IS NULL OR epoch_sec - prev >= 300
                                        THEN epoch_sec END) OVER
                              (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                              AS session_start_sec
                     FROM lagged)
                   SELECT event_id, session_start_sec,
                          CAST(user_id AS VARCHAR) || '#' || CAST(session_start_sec AS VARCHAR)
                            AS session_id
                   FROM starts""",
}


# ── metrics ────────────────────────────────────────────────────────────────

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples above it, as
    (value, percentile, sample count); value and percentile are None when
    that percentile would not lie above the median (fewer than 21 samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return None, None, n
    i = n - 11
    return xs[i], 100.0 * i / (n - 1), n


def ops_of(p, *kinds):
    """Wall ms of the pass's calls of these kinds."""
    return [op[1] for op in p["ops"] if op[0] in kinds]


def gauge_of(p):
    """The pass's gauge samples, one before each timed call."""
    return [op[2] for op in p["ops"]]


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs and min(xs) > 0 else 0.0


def query_passes(passes):
    """The passes that also ran the query sample."""
    return [p for p in passes if "queries" in p]


def end_to_end(res, workload):
    rounds = res["passes"][1:]  # chain round 0 is the warm-up
    # each kind's median over the steady rounds: a median of like calls
    kinds = sorted({op[0] for p in rounds for op in p["ops"]})
    op_medians = {k: median([v for p in rounds for v in ops_of(p, k)]) for k in kinds}
    rel_medians = {k: median([op[1] / op[2] for p in rounds for op in p["ops"] if op[0] == k])
                   for k in kinds}
    op_geomean_ms = geomean([op_medians.get(k, 0.0) for k in OP_KINDS[workload]])
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "op_geomean_rel": (geomean([rel_medians.get(k, 0.0) for k in OP_KINDS[workload]]), "ratio"),
    }
    # recorded, not gated. The raw latencies move with the host's speed
    # (see README). An untraced run executes its query sample once, in
    # query pass 0: cold, and materialized into the dump the oracle
    # compare reads. The chain time is dominated by the merge and delete.
    cold = res["passes"][0]["queries"]
    ungated = {
        "op_geomean_ms": op_geomean_ms,
        "gauge_ms": median([v for p in rounds for v in gauge_of(p)]),
        "chain_s": median([p["chain_ms"] / 1e3 for p in rounds]),
        "cold_query_geomean_s": geomean([(b + m) / 1e3 for b, m in cold.values()]),
        "cold_wall_s": (median([p["chain_ms"] for p in rounds]) + res["passes"][0]["query_ms"]) / 1e3,
    }
    # the chain latencies under their own names, each with its tail's
    # percentile and sample count
    named = {}
    for name, values, scale in (
            ("load", [v for p in rounds for v in ops_of(p, "load")], 1e-3),
            ("commit", [v for p in rounds for v in ops_of(p, *COMMIT_KINDS)], 1.0),
            ("trigger", res["passes"][0]["triggers"], 1.0)):
        if values:
            t, pct, n = tail(values)
            unit = "s" if scale != 1.0 else "ms"
            named["%s_p50_%s" % (name, unit)] = median(values) * scale
            named["%s_tail_%s" % (name, unit)] = t * scale if t is not None else None
            named["%s_tail_percentile" % name] = pct
            named["%s_samples" % name] = n
    return metrics, {"chain_latencies": named, "op_medians_ms": op_medians,
                     "op_rel_medians": rel_medians,
                     "ungated": ungated}


def per_layer(res):
    passes = res["passes"][1:]  # pass 0 is the warm-up
    traced = [p for p in passes if p["traced"]]
    # passes 1-4 ran both phases: the traced 2 and 4, the untraced 1 and 3
    steady = query_passes(traced)
    untraced = query_passes([p for p in passes if not p["traced"]])

    def tot(key, scale=1.0):
        return median([p["totals"].get(key, 0) * scale for p in steady])

    m = {
        "entry.build_s": (median([sum(b for b, _ in p["queries"].values()) / 1e3 for p in steady]), "s"),
        "entry.materialize_s": (median([sum(x for _, x in p["queries"].values()) / 1e3 for p in steady]), "s"),
        "spark.sql_execs": (tot("sql_execs"), "count"),
        "spark.jobs": (tot("jobs"), "count"),
        "spark.stages": (tot("stages"), "count"),
        "spark.tasks": (tot("tasks"), "count"),
        "spark.failed_tasks": (tot("failed_tasks"), "count"),
        "spark.executor_run_s": (tot("executor_run_ms", 1e-3), "s"),
        "spark.executor_cpu_s": (tot("executor_cpu_ns", 1e-9), "s"),
        "spark.sched_delay_s": (tot("sched_delay_ms", 1e-3), "s"),
        "spark.task_gc_s": (tot("task_gc_ms", 1e-3), "s"),
        "spark.shuffle_write_mb": (tot("shuffle_write_bytes", 2 ** -20), "MB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_bytes", 2 ** -20), "MB"),
        "spark.spill_mb": (tot("spill_bytes", 2 ** -20), "MB"),
        "spark.input_mb": (tot("input_bytes", 2 ** -20), "MB"),
        "spark.output_mb": (tot("output_bytes", 2 ** -20), "MB"),
        "operators.load_s": (median([v / 1e3 for p in traced for v in ops_of(p, "load")]), "s"),
        "operators.wau_s": (median([v / 1e3 for p in traced for v in ops_of(p, "wau")]), "s"),
    }
    rows = res.get("kernel_rows", 0)
    for k in KERNELS:
        t = median([v for p in traced for v in ops_of(p, k)])
        m["functions.%s.rows_per_s" % k] = (rows / (t / 1e3) if t else 0.0, "rows/s")
    last = traced[-1]
    live = last.get("live_bytes", 0)
    m.update({
        "sources.commit_ms": (median([v for p in traced for v in ops_of(p, *COMMIT_KINDS)]), "ms"),
        "sources.meta_ms": (median([sum(ops_of(p, *META_KINDS)) for p in traced]), "ms"),
        "sources.read_ms": (median([v for p in traced for v in ops_of(p, "read", "read_masked")]), "ms"),
        "sources.log_files": (last.get("log_files", 0), "count"),
        "sources.bytes_on_disk_mb": (last.get("bytes_on_disk", 0) / 2 ** 20, "MB"),
        "sources.space_amp": (last.get("bytes_on_disk", 0) / live if live else 0.0, "ratio"),
        "streaming.triggers": (tot("triggers"), "count"),
        "streaming.no_data_triggers": (tot("no_data_triggers"), "count"),
        "streaming.add_batch_ms": (tot("addBatch_ms"), "ms"),
        "streaming.get_batch_ms": (tot("getBatch_ms"), "ms"),
        "streaming.wal_commit_ms": (tot("walCommit_ms"), "ms"),
        "streaming.commit_offsets_ms": (tot("commitOffsets_ms"), "ms"),
        "streaming.query_planning_ms": (tot("queryPlanning_ms"), "ms"),
        "streaming.state_commit_ms": (tot("state_commit_ms"), "ms"),
        "streaming.state_rows": (median([p["state_rows"] for p in steady]), "count"),
        "streaming.idle_ms": (median([p["idle_ms"] for p in steady]), "ms"),
        "jvm.gc_s": (res["jvm_gc_s"], "s"),
        "jvm.peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "jvm.jit_s": (res["jvm_jit_s"], "s"),
    })
    t_wall = median([p["chain_ms"] + p["query_ms"] for p in steady])
    u_wall = median([p["chain_ms"] + p["query_ms"] for p in untraced])
    m["trace.overhead"] = (t_wall / u_wall if u_wall else 0.0, "ratio")
    same, exceptions = count_repeats(steady)
    m["trace.count_repeat_frac"] = (same, "ratio")
    return m, exceptions


REPEAT_KEYS = ("sql_execs", "jobs", "stages")


def count_repeats(traced):
    """Share of traced calls (each sampled query, and each chain and kernel
    operation as `<kind>#<n>`) whose SQL-execution, job and stage counts are
    the same in the first two traced passes, and the calls where they are
    not."""
    if len(traced) < 2:
        return 0.0, ["fewer than two traced passes"]
    a, b = traced[0]["counts"], traced[1]["counts"]
    qs = sorted(set(a) | set(b))
    diff = [q for q in qs if q not in a or q not in b or
            any(a[q].get(k, 0) != b[q].get(k, 0) for k in REPEAT_KEYS)]
    return (1.0 - len(diff) / len(qs) if qs else 1.0), diff


def write_counts(path, traced):
    keys = REPEAT_KEYS + ("tasks", "actions", "shuffle_write_bytes", "shuffle_read_bytes")
    with open(path, "w") as f:
        f.write("pass\tcall\t" + "\t".join(keys) + "\n")
        for i, p in enumerate(traced, 1):
            for q in sorted(p["counts"]):
                f.write("%d\t%s\t%s\n" % (i, q, "\t".join(str(p["counts"][q].get(k, 0)) for k in keys)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under %s/src/main/scala: run from the repository root" % ROOT)
    sf = sf_dir()
    missing = [t for t in TABLES if not os.path.exists(os.path.join(sf, t + ".parquet"))]
    if missing:
        fail("tables missing from %s: %s" % (sf, ", ".join(missing)))
    os.makedirs(OUT, exist_ok=True)
    lock = open(os.path.join(OUT, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail("another benchmark process is running in this checkout", 3)

    cp = build()
    deadline = time.time() + TIME_LIMIT
    load_start = os.getloadavg()
    run_dir = os.path.join(OUT, "run")
    res = jvm(cp, sf, run_dir, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)], deadline)
    if res is None:
        fail("run failed", 1)
    errors = oracle_checks(res, run_dir, sf)
    load_end = os.getloadavg()

    if a.trace:
        metrics, exceptions = per_layer(res)
        extra = {"count_repeat_exceptions": exceptions}
        if metrics["trace.count_repeat_frac"][0] < MIN_REPEAT:
            errors["count repeat"] = "%.3f of traced calls repeat their counts, below %.2f: %s" \
                % (metrics["trace.count_repeat_frac"][0], MIN_REPEAT, ", ".join(exceptions))
        os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
        counts = os.path.join(OUT, "trace", "%s-seed%d.counts.tsv" % (a.workload, a.seed))
        write_counts(counts, query_passes([p for p in res["passes"][1:] if p["traced"]]))
        extra["counts_file"] = os.path.relpath(counts, ROOT)
    else:
        metrics, extra = end_to_end(res, a.workload)
    passes = len(res["passes"])
    failed_queries = {k[len("query "):] for k in errors if k.startswith("query ")}
    failed = len(res["failures"]) + res["query_passes"] * len(failed_queries) + \
        sum(1 for k in errors if not k.startswith("query "))
    attempted = int(res["attempted"])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "cores": res["cores"],
        "loadavg_start": load_start, "loadavg_end": load_end,
        "java": res["java"], "spark": res["spark"],
        "sample": res["sample"], "passes": passes, "query_passes": res["query_passes"],
        "chain_phase_s": res["chain_s"], "measured_s": res["measured_s"],
        "chain_round_s": [p["chain_ms"] / 1e3 for p in res["passes"]],
        "query_pass_s": [p["query_ms"] / 1e3 for p in query_passes(res["passes"])],
        "ops": [p["ops"] for p in res["passes"]],
        "failed_frac": failed / attempted, "failures": res["failures"], "check_errors": errors,
        "metrics": {k: v for k, (v, _) in metrics.items()}, **extra,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", "%s-seed%d-trace%d.json"
                           % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for k in ("sample", "passes", "failed_frac", "nproc", "loadavg_start", "loadavg_end",
              "java", "spark") + tuple(extra):
        print("# %s: %s" % (k, json.dumps(record.get(k, extra.get(k)), default=str)))
    for what, err in list(errors.items()) + [("JVM", f) for f in res["failures"]]:
        log("FAILED %s: %s" % (what, err))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.stdout.flush()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
