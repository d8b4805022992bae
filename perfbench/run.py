#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: the oracle-gated query suite and
the undelivered-message detector, paced and flooded.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_suite|alert_stream \
        --seed N --seconds S --trace 0|1

The first run builds the program and the harness with sbt (the program's
sources are compiled straight from the checkout); later runs reuse the
build until a source file changes. Each run starts one JVM
(`perfbench.Main`), checks every output against its reference, and prints
the metrics as one JSON object on the last line of standard output. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are the per-layer ones, from a traced JVM (and, on
alert_stream, a second JVM for the one-core baseline). Everything the run
writes stays under perfbench/.work.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import measure

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ("query_suite", "alert_stream")
# A run must end within 180 s of starting (900 s when it builds).
DEADLINE_S = 172
STARTED = time.time()
BUILD_TIMEOUT_S = 840

# What SparkSession needs on JDK 17 outside spark-submit (the same list
# as the program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        raise BenchError("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        return json.load(f)


def newest_mtime(dirs):
    newest = 0.0
    for d in dirs:
        for base, _, files in os.walk(d):
            for name in files:
                newest = max(newest, os.path.getmtime(os.path.join(base, name)))
    return newest


def build():
    """Compile program + harness once per source state; return the classpath."""
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        raise BenchError(f"program sources not found under {ROOT}")
    stamp = os.path.join(WORK, "classpath.txt")
    inputs = [program, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    newest = max(newest_mtime(inputs), os.path.getmtime(os.path.join(HERE, "build.sbt")))
    if os.path.isfile(stamp) and os.path.getmtime(stamp) > newest:
        with open(stamp) as f:
            return f.read().strip()
    global STARTED
    log("building program and harness with sbt ...")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        log(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError("build failed")
    cp = [l for l in p.stdout.splitlines() if l and not l.startswith("[")][-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    STARTED = time.time()
    return cp


def host_cores():
    return len(os.sched_getaffinity(0))


def host_heap():
    """Half of MemTotal in GiB, clamped to [2, 8]: the tier-1 rule."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)
    except (OSError, ValueError):
        return 0, 0


def run_jvm(cp, workload, seed, seconds, trace, cores, tag):
    """Run one JVM; return (result, its work directory, spawn epoch ms).
    The result also holds `host_steal_frac`: the share of the host's CPU
    time its hypervisor gave to others while the JVM ran."""
    wd = os.path.join(WORK, tag)
    shutil.rmtree(wd, ignore_errors=True)
    os.makedirs(os.path.join(wd, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{host_heap()}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={wd}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores),
            "--data", DATA, "--work", wd]
    steal0, total0 = cpu_ticks()
    spawn_ms = time.time() * 1000.0
    left = DEADLINE_S - (time.time() - STARTED)
    with open(os.path.join(wd, "jvm.log"), "w") as out:
        try:
            p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=wd,
                               stdin=subprocess.DEVNULL, timeout=max(1.0, left),
                               env=dict(os.environ, SPARK_LOCAL_DIRS=f"{wd}/local"))
        except subprocess.TimeoutExpired:
            raise BenchError(f"{tag}: the run exceeded {DEADLINE_S} s")
    if p.returncode != 0:
        with open(os.path.join(wd, "jvm.log")) as f:
            log(f.read()[-6000:])
        raise BenchError(f"{tag}: JVM exited with {p.returncode}")
    steal1, total1 = cpu_ticks()
    with open(os.path.join(wd, "result.json")) as f:
        res = json.load(f)
    res["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    return res, wd, spawn_ms


# ---------------------------------------------------------------- checks

def load_compare():
    """tools/compare_oracle.py of the checkout: its canonical row form is
    the one the oracle gate uses."""
    path = os.path.join(ROOT, "tools", "compare_oracle.py")
    s = importlib.util.spec_from_file_location("compare_oracle", path)
    mod = importlib.util.module_from_spec(s)
    s.loader.exec_module(mod)
    return mod


def duck(compare):
    import duckdb
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in compare.TABLES:
        p = os.path.join(DATA, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canonical(rows_form):
    cols, rows = rows_form
    return [list(cols), [list(r) for r in rows]]


def oracle_answer(con, compare, sql):
    """Canonical DuckDB answer of `sql` over the fixture; the fixture is
    fixed, so answers are kept under perfbench/.work keyed by the SQL."""
    cache = os.path.join(WORK, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".json")
    if os.path.isfile(cache):
        with open(cache) as f:
            return json.load(f)
    o = con.sql(sql)
    answer = canonical(compare.canon_rows(o.columns, o.fetchall()))
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        json.dump(answer, f)
    return answer


def check_queries(res, wd):
    """Each query's rows against its DuckDB oracle; without one, rows > 0.
    Returns the failures."""
    compare = load_compare()
    con = duck(compare)
    oracles = res["oracle_sql"]
    failures = []
    for q in res["queries"]:
        name = q["name"]
        if q["error"]:
            failures.append(f"{name}: {q['error'][:200]}")
        elif name not in oracles:
            if q["rows"] <= 0:
                failures.append(f"{name}: no rows and no oracle SQL")
        else:
            try:
                want = oracle_answer(con, compare, oracles[name])
                s = con.sql(f"SELECT * FROM read_parquet('{wd}/results/{name}/*.parquet')")
                got = canonical(compare.canon_rows(s.columns, s.fetchall()))
            except Exception as e:  # noqa: BLE001 - any error fails the check
                failures.append(f"{name}: {e}")
                continue
            if want != got:
                failures.append(f"{name}: differs from the oracle "
                                f"({len(want[1])} rows expected, {len(got[1])} returned)")
    return failures


def duckdb_control(res, names):
    """Seconds DuckDB takes over the oracle SQL of `names`: the reading of
    ambient drift to set beside the engine's own times."""
    compare = load_compare()
    con = duck(compare)
    sqls = [res["oracle_sql"][n] for n in names if n in res["oracle_sql"]]
    t0 = time.perf_counter()
    for sql in sqls:
        con.sql(sql).fetchall()
    return time.perf_counter() - t0


def read_doubles(wd, name):
    return np.fromfile(os.path.join(wd, name), dtype="<f8")


# ---------------------------------------------------------------- metrics

def alert_latencies(res, wd, phase):
    """Latencies of a phase's alerts: from when the record that made each
    alert due was due to when the alert reached the sink."""
    return measure.alert_latencies(read_doubles(wd, f"{phase}_event_ms.bin"),
                                   read_doubles(wd, f"{phase}_due_ms.bin"),
                                   res[f"{phase}_alerts"], res["watermark_ms"])


def flood_rate(res):
    """Median over the measured flood chunks (the warm-up chunks ran during
    set-up) of records per second, each from append to commit."""
    if not res["chunks"]:
        raise BenchError("the flood phase measured no chunk")
    return statistics.median(c["events"] / (c["ms"] / 1000.0) for c in res["chunks"])


def evaluate(workload, res, wd, spawn_ms, latency=True):
    """End-to-end metrics, attempted and failed operations, and notes of
    one JVM run; without `latency`, the latency metric is left out."""
    setup_s = (res["session_ready_ms"] - spawn_ms) / 1000.0
    notes = []
    if workload == "query_suite":
        failures = check_queries(res, wd) + [e for q in res["queries"] for e in q["warm_errors"]]
        notes += failures
        # every query run of the measured passes (those after the warm-up)
        warmup = res["warmup_passes"]
        measured = res["warm_pass_s"][warmup:]
        lat = [w["wall_s"] * 1000.0 for q in res["queries"] for w in q["warm"][warmup:]]
        attempted = len(res["queries"]) * (1 + len(res["warm_pass_s"]))
        failed = len(failures)
        throughput = len(res["queries"]) * len(measured) / sum(measured)
    else:
        setup_s += res["setup_s"]
        lat = alert_latencies(res, wd, "paced")
        throughput = flood_rate(res)
        failed = res["missing_alerts"] + res["extra_alerts"] + res["unconsumed"]
        attempted = res["produced"] + res["expected_alerts"]
        if failed:
            notes.append(f"{res['missing_alerts']} alerts missing, {res['extra_alerts']} "
                         f"extra, {res['unconsumed']} events unconsumed")
        ages = [(t, age) for t, _, age in res["backlog"]]
        if measure.backlog_grew(ages, slack=res["trigger_ms"]):
            notes.append("invalid run: the backlog grew across the paced phase")
            failed += 1
    metrics = {"setup_s": setup_s, "throughput_per_s": throughput}
    if latency:
        metrics["latency_p50_ms"], n = measure.percentile(lat, 0.5)
        notes.append(f"{workload}: p50 latency over {n} samples")
    notes.append(f"{workload}: {attempted} attempted, {failed} failed; "
                 f"host steal {res['host_steal_frac']:.3f}")
    return metrics, attempted, failed, notes


def batch_phases(res):
    """Data-carrying micro-batches of a traced alert_stream run: those of
    the paced query and of the flood query, each in its measured phase."""
    base, paced = res["paced_base_offset"], res["paced"]
    pb, fb = [], []
    for b in res["progress"]:
        if b["end_offset"] is None or not b["duration_ms"].get("triggerExecution"):
            continue
        end = int(b["end_offset"])
        if b["query_id"] == res["paced_query_id"] and base < end <= base + paced:
            pb.append(b)
        elif b["query_id"] == res["flood_query_id"] and end > res["flood_base_offset"] \
                and b["input_rows"] > 1:
            fb.append(b)
    return pb, fb


def commit_spans(batches, base):
    return [(int(b["start_offset"] or 0) - base, int(b["end_offset"]) - base,
             b["start_ms"] + b["duration_ms"]["triggerExecution"]) for b in batches]


def tracing_overhead(workload, res):
    """Slowdown of the measured passes (query_suite) or flood chunks
    (alert_stream) that recorded spans against those that did not, in
    the same traced JVM: mean pass seconds against mean, or median
    seconds per event against median."""
    if workload == "query_suite":
        warmup = res["warmup_passes"]
        passes = list(zip(res["warm_pass_s"][warmup:], res["warm_pass_traced"][warmup:]))
        on = [s for s, t in passes if t]
        off = [s for s, t in passes if not t]
        return statistics.mean(on) / statistics.mean(off) - 1.0
    on = [c["ms"] / c["events"] for c in res["chunks"] if c["traced"]]
    off = [c["ms"] / c["events"] for c in res["chunks"] if not c["traced"]]
    return statistics.median(on) / statistics.median(off) - 1.0


def layer_metrics(workload, res, wd, baseline_rate):
    """Per-layer metrics of one traced run; a layer the workload does not
    reach reads 0."""
    m = {}
    c = res["counters"]
    m["spark.jobs"] = c.get("jobs", 0)
    m["spark.stages"] = c.get("stages", 0)
    m["spark.tasks"] = c.get("tasks", 0)
    m["spark.slot_busy_frac"] = (c.get("executor_run_ms", 0) / 1000.0
                                 / (res["workload_wall_s"] * res["cores"]))
    m["spark.executor_cpu_s"] = c.get("executor_cpu_ns", 0) / 1e9
    m["spark.gc_s"] = res["gc_s"]
    m["spark.shuffle_write_bytes"] = c.get("shuffle_write_bytes", 0)
    m["spark.spill_bytes"] = c.get("spill_bytes", 0)
    m["tables.input_bytes"] = c.get("input_bytes", 0)
    m["codegen.compiles"] = res["codegen_compiles"]
    m["codegen.compile_s"] = res["codegen_s"]
    m["trace.overhead_frac"] = tracing_overhead(workload, res)
    m["host.steal_frac"] = res["host_steal_frac"]
    m["baseline.flood_1core_events_per_s"] = baseline_rate

    batches = [b for b in res["progress"] if b["duration_ms"].get("triggerExecution")]
    if workload == "query_suite":
        # seconds per measured pass, each the mean over the measured passes
        warmup = res["warmup_passes"]
        passes = res["warm_pass_s"][warmup:]

        def per_pass(q, key):
            return sum(w[key] for w in q["warm"][warmup:]) / len(passes)
        for layer in ("build", "plan", "exec"):
            m[f"query.{layer}_s"] = sum(per_pass(q, f"{layer}_s") for q in res["queries"])
        walls = {}
        for q in res["queries"]:
            walls[q["module"]] = walls.get(q["module"], 0.0) + per_pass(q, "wall_s")
        for mod, s in walls.items():
            m[f"operators.{mod}.wall_s"] = s
        m["query.loop_overhead_s"] = statistics.mean(passes) - sum(walls.values())
        m["query.cold_suite_s"] = res["cold_s"]
        m["control.duckdb_suite_s"] = duckdb_control(res, [q["name"] for q in res["queries"]])
        paced_b, flood_b = batches, batches
    else:
        m["control.duckdb_suite_s"] = duckdb_control(res, res["suite"])
        paced_b, flood_b = batch_phases(res)
        base, paced = res["paced_base_offset"], res["paced"]
        m["sources.frame_s"] = res["frame_s"]
        m["sources.unframe_s"] = res["unframe_s"]
        m["sources.backlog_max"] = max((b[1] for b in res["backlog"]), default=0)
        m["sink.alerts"] = len(res["paced_alerts"]) + len(res["flood_alerts"])
        m["sink.write_ms"] = res["sink_write_ms"]
        due = read_doubles(wd, "paced_due_ms.bin")
        late = read_doubles(wd, "paced_appended_ms.bin") - due
        m["producer.late_p99_ms"] = measure.percentile(late, 0.99)[0]
        ev = measure.latencies_from_due(due, commit_spans(paced_b, base))
        m["paced.event_p50_ms"] = measure.percentile(ev, 0.5)[0]
        m["paced.event_p99_ms"] = measure.percentile(ev, 0.99)[0]
        m["paced.alert_p90_ms"] = measure.percentile(alert_latencies(res, wd, "paced"), 0.9)[0]
        m["flood.alert_p50_ms"] = measure.percentile(alert_latencies(res, wd, "flood"), 0.5)[0]

    def med(bs, key):
        return statistics.median(b["duration_ms"].get(key, 0) for b in bs) if bs else 0.0

    def states(bs):
        return [b["state"] for b in bs if b.get("state")]

    m["batch.count"] = len(paced_b)
    m["batch.trigger_ms_p50"] = med(paced_b, "triggerExecution")
    for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                      ("queryPlanning", "query_planning"), ("walCommit", "wal_commit"),
                      ("commitOffsets", "commit_offsets")):
        m[f"batch.{name}_ms"] = med(paced_b, key)
    m["batch.add_batch_ms"] = med(flood_b, "addBatch")
    if batches:
        m["batch.jobs"] = c.get("stream_jobs", 0) / len(batches)
        m["batch.tasks"] = c.get("stream_tasks", 0) / len(batches)
    ps, fs, all_s = states(paced_b), states(flood_b), states(batches)
    if fs:
        m["state.update_ms"] = statistics.median(s["update_ms"] for s in fs)
    if ps:
        m["state.removal_ms"] = statistics.median(s["removal_ms"] for s in ps)
        m["state.commit_ms"] = statistics.median(s["commit_ms"] for s in ps)
        m["state.rows_removed"] = sum(s["rows_removed"] for s in ps)
    if all_s:
        m["state.rows_max"] = max(s["rows_total"] for s in all_s)
        m["state.memory_bytes_max"] = max(s["memory_bytes"] for s in all_s)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        bench = spec()
        cp = build()
        cores = host_cores()
        res, wd, spawn = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, cores, "run")
        metrics, attempted, failed, notes = evaluate(a.workload, res, wd, spawn)
        wanted = bench["end_to_end"]
        if a.trace:
            rate = 0.0
            if a.workload == "alert_stream":
                bres, bwd, bspawn = run_jvm(cp, a.workload, a.seed, max(2, a.seconds // 2),
                                            False, 1, "one-core")
                bm, att, fail, note = evaluate(a.workload, bres, bwd, bspawn, latency=False)
                attempted, failed, notes = attempted + att, failed + fail, notes + note
                rate = bm["throughput_per_s"]
            metrics = layer_metrics(a.workload, res, wd, rate)
            wanted = bench["per_layer"]
        out = {}
        for w in wanted:
            if w["name"] not in metrics and not a.trace:
                raise BenchError(f"metric {w['name']} was not measured")
            out[w["name"]] = {"value": float(metrics.get(w["name"], 0.0)), "unit": w["unit"]}
    except (BenchError, measure.TooFewSamples, subprocess.TimeoutExpired) as e:
        log(f"benchmark failed: {e}")
        return 1
    for n in notes:
        log(n)
    for k, v in out.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": int(attempted),
                      "failed": int(failed), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
