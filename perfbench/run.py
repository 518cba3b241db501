#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the
program and the harness from source (sbt, offline) and generates the
tables (`gen.py`); later runs reuse both while their sources are
unchanged. The seed sets the query order of every pass.

Load model: one JVM, one client, closed loop (the next query is sent when
the previous one has finished), master local[k] with k at most nproc and
set per workload. The heap is sized up front (3 GB, 1 GB young
generation) so that GC does not resize it while passes are timed.
A run sets up (JVM, session, query registry, the fixtures the program
declares for the workload's queries), runs an untimed pass whose outputs
are checked against the DuckDB oracle and which warms every query, then
the workload's untimed warm-up passes (counted in setup_s), then times
round(S / nominal pass time) whole passes.

The last stdout line is the result: with --trace 0 the end-to-end
metrics, with --trace 1 the per-layer metrics (from a run of three passes
whose middle one is traced); the line before it is the full record,
which is also written with the span file under .bench_build/perfbench/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Graft's own operator entries from the program's bench list (scan,
# aggregate, window, as-of, global cumsum, index, constraint suite) and
# the TPC-H entries with the widest plans (6 to 8 joined tables,
# correlated subqueries, semi/anti joins). The other operator and TPC-H
# entries of the bench list repeat these plan shapes and do not fit the
# run budget. An odd count keeps the median sample on one query.
ANALYST = [
    "q_read_parquet", "q_groupby_agg", "q_rolling", "q_asof_global",
    "q_global_cumsum", "q_set_index", "q_check_constraints", "q_tpch_q2",
    "q_tpch_q5", "q_tpch_q8", "q_tpch_q21"]
# The parquet landing and two composed llm/Pipeline landings: the corpus
# build (quality, dedup, decontamination, split, shuffle) and the
# whitespace training-window landing on the same chain. The
# fixture-backed landings (steady ingest, BPE-model windows) add 10-21 s
# of set-up each, and the language-gated chain 5-8 s a sample, which the
# run budget cannot hold.
LANDING = ["q_to_parquet", "q_pipeline_e2e", "q_pipeline_windows"]

# name -> (queries, seconds one warm pass takes on a 4-core host, untimed
# warm-up passes after the check pass, task threads). A run times
# round(--seconds / pass time) passes, so both sides of a comparison
# measure the same work.
# `landing` builds its frames with dozens of eager jobs each, and its
# passes after the check pass take 9.6, 7.5, then 6.2-6.8 s: two warm-up
# passes put its timed passes past that curve. Its work is mostly on the
# driver thread, and two task threads leave the other cores to it, the
# JIT compilers and GC: at local[4] its passes were 6% slower.
# `analyst`'s scans, joins and shuffles use four task threads; at
# local[2] its spread over runs was four times wider.
WORKLOADS = {"analyst": (ANALYST, 12.0, 0, 4),
             "landing": (LANDING, 6.5, 2, 2)}
# Both workloads read one table set, generated once per checkout: the run
# seed sets the query order, so runs differ only in what the program
# does with the same tables.
SCALE_FACTOR = 0.01
DATA_SEED = 42

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 160


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, cwd, log, timeout, env=None):
    """Runs `cmd` in its own process group with stdout and stderr to
    `log`; on timeout the whole group is killed. Returns the exit code,
    or None on timeout, after every process of the group has ended."""
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=fh, stderr=fh,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def tree_digest(root, rels):
    h = hashlib.sha256()
    for rel in rels:
        base = os.path.join(root, rel)
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs
            if "/target" not in d)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compiles program + harness with sbt unless the sources match the
    last build; returns the runtime classpath and the sources' digest."""
    srcs = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    stamp = tree_digest(root, srcs)
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp, stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(work, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"],
                   os.path.join(root, "perfbench", "harness"), log,
                   BUILD_TIMEOUT_S, env)
    with open(log) as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}), see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1], stamp


def inputs(work):
    """Generates the tables unless a complete set with the same content
    stamp exists; stale sets are removed."""
    import gen
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        code = hashlib.sha256(fh.read()).hexdigest()[:12]
    stamp = f"sf{SCALE_FACTOR}-s{DATA_SEED}-{code}"
    top = os.path.join(work, "data")
    out = os.path.join(top, stamp)
    if os.path.exists(os.path.join(out, "_STAMP")):
        return out
    shutil.rmtree(top, ignore_errors=True)
    tmp = out + ".tmp"
    gen.generate(tmp, DATA_SEED, SCALE_FACTOR)
    with open(os.path.join(tmp, "_STAMP"), "w") as fh:
        fh.write(stamp)
    os.rename(tmp, out)
    return out


def git_head(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def host_facts():
    facts = {"nproc": os.cpu_count(), "load_avg": os.getloadavg()}
    try:
        # Cumulative CPU time stolen by the hypervisor and total CPU
        # time, in clock ticks: their change over a run shows how much
        # of the host the benchmark did not get.
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        facts["cpu_steal_ticks"] = ticks[7] if len(ticks) > 7 else 0
        facts["cpu_total_ticks"] = sum(ticks[:8])
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/meminfo") as fh:
            info = dict(l.split(":", 1) for l in fh)
        facts["mem_available_mb"] = int(info["MemAvailable"].split()[0]) / 1024
    except (OSError, KeyError, ValueError):
        pass
    return facts


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least 10 samples beyond it (the
    order statistic of rank n - 10), as (percentile, value). Below 11
    samples no percentile qualifies and the maximum is reported."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))
            and os.path.isfile(os.path.join(root, "BENCHMARK.json"))):
        fail("run from the root of a graft source checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)

    classpath, source_digest = build(root, work)
    queries, pass_s, warmup, threads = WORKLOADS[a.workload]
    passes = 3 if a.trace else max(1, round(a.seconds / pass_s))
    data = inputs(work)

    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cpus = min(threads, os.cpu_count() or 1)
    host_before = host_facts()
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-Xmn1g",
           "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
           "-cp", classpath, "perfbench.Harness",
           f"data={data}", f"queries={','.join(queries)}", f"cpus={cpus}",
           f"seed={a.seed}", f"warmup={warmup}", f"passes={passes}",
           f"trace={a.trace}",
           f"check={os.path.join(run_dir, 'check')}",
           f"out={os.path.join(run_dir, 'record.json')}",
           f"trace_out={os.path.join(run_dir, 'spans.json')}"]
    t0 = time.time()
    rc = run_group(cmd, run_dir, os.path.join(run_dir, "jvm.log"),
                   RUN_TIMEOUT_S)
    for d in (tmp, os.path.join(run_dir, "warehouse")):
        shutil.rmtree(d, ignore_errors=True)
    if rc != 0 or not os.path.exists(os.path.join(run_dir, "record.json")):
        fail(f"harness failed (rc={rc}), see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "record.json")) as fh:
        rec = json.load(fh)

    import check
    failures, rows = check.check(data, os.path.join(run_dir, "check"),
                                 queries, rec["oracle_sql"])
    failed = dict(rec["failed"])
    for q, msg in failures.items():
        failed.setdefault(q, f"output check: {msg}")

    samples = [s for s in rec["samples"] if not s["traced"]]
    per_query = {}
    for s in samples:
        per_query.setdefault(s["query"], []).append(s["total_s"])
    lat = [s["total_s"] for s in samples]
    untraced = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    tail_p, tail_v = tail(lat)
    e2e = {
        "pass_s": median(untraced),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(median(v)) for v in per_query.values())),
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
        "setup_s": rec["setup_s"],
        "retained_heap_mb": rec["retained_heap_mb"],
    }
    host_after = host_facts()
    ticks = host_after.get("cpu_total_ticks", 0) - host_before.get(
        "cpu_total_ticks", 0)
    rec.update({
        "workload": a.workload, "git_head": git_head(root),
        "source_digest": source_digest,
        "wall_s": time.time() - t0, "host_python_before": host_before,
        "host_python_after": host_after,
        "cpu_steal_frac": (host_after.get("cpu_steal_ticks", 0) - host_before
                           .get("cpu_steal_ticks", 0)) / ticks if ticks else None,
        "output_rows": rows,
        "failed": failed, "failed_frac": len(failed) / len(queries),
        "latency_tail": {"percentile": tail_p, "samples": len(lat)},
        "query_median_s": {q: median(v) for q, v in per_query.items()},
    })
    del rec["oracle_sql"]
    if a.trace:
        values = dict(rec["per_layer"])
        result_rows = float(sum(rows.values()))
        values["result_rows"] = result_rows
        values["result_per_join_row"] = (
            result_rows / values["join_rows_out"]
            if values["join_rows_out"] else 0.0)
        rec["per_layer"] = values
    else:
        values = e2e
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))
    print(json.dumps({"correct": not failed, "attempted": len(queries),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
