#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source (perfbench/harness, sbt, offline); every run then

  1. generates the workload's inputs from the seed (perfbench/gen.py),
  2. runs the workload in a fresh JVM, timing its set-up (JVM start to
     session ready) and then about S seconds of work,
  3. checks the outputs (query results against the DuckDB oracle, the
     stream's sinks against a batch recomputation), and
  4. prints a report on stderr and, as the last stdout line, one JSON
     object: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (the traced run also writes its spans and full breakdown
under .bench_build/traces/). See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "harness", "scala-2.13", "classes")
JVM_OPTIONS = os.path.join(BUILD, "jvm_options.txt")
WORKLOADS = ("iot_warehouse", "curation_session", "stream_ingest")

# Input sizes: the warehouse tables' scale factor, the shifted copies of
# `events` the ETL step reads, the stream's rate from 1,500 devices and
# its burst. "tiny" is the smoke test's.
SIZES = {
    "full": {"sf": 0.01, "etl_copies": 2, "stream_rate": 1500, "burst": 60000},
    "tiny": {"sf": 0.001, "etl_copies": 1, "stream_rate": 300, "burst": 2000},
}
JVM_TIMEOUT_S = 150


T0 = time.time()


def log(msg):
    print(f"[perfbench] {time.time() - T0:6.1f}s {msg}", file=sys.stderr, flush=True)


def cpu_jiffies():
    """(steal, total) CPU time of the machine from /proc/stat. Steal is
    time the hypervisor gave this VM's CPUs to other guests; on a shared
    host it is what most often makes one run slower than another."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "harness", "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine sources plus the harness; skipped when the
    sources are unchanged since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no engine sources (src/main/scala) in this directory")
    stamp = os.path.join(BUILD, "build.hash")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(JVM_OPTIONS):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]))
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=os.path.join(HERE, "harness"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    # the module options spark-submit would pass to a Spark 4 driver
    opts = subprocess.check_output(["java", "-cp", classpath(), "perfbench.JvmOptions"], text=True)
    with open(JVM_OPTIONS, "w") as f:
        f.write(opts)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f}s")


# ---------------------------------------------------------------- JVM runs

def spark_home():
    """SPARK_HOME, or the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 installation")
    return home


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")


def java_cmd(cpus, args):
    with open(JVM_OPTIONS) as f:
        module_opts = f.read().split()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + module_opts + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-cp", classpath(), "perfbench.Main", "--cpus", str(cpus)] + args)


class Jvm:
    """A harness JVM: launched, then awaited until it prints READY. Used as
    a context manager, so the process is killed and reaped on any error."""

    def __init__(self, cpus, args, log_path):
        self.log = open(log_path, "w")
        self.t_launch_ms = time.time() * 1000.0
        self.p = subprocess.Popen(java_cmd(cpus, args), stdout=subprocess.PIPE,
                                  stderr=self.log, text=True, cwd=ROOT)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        stop(self.p)
        self.log.close()

    def wait_ready(self):
        for line in self.p.stdout:
            if line.startswith("PERFBENCH_READY"):
                return (float(line.split()[1]) - self.t_launch_ms) / 1000.0
        raise RuntimeError("harness JVM exited before it was ready")

    def finish(self, timeout):
        # after READY the harness writes nothing more to stdout
        if self.p.wait(timeout=timeout) != 0:
            raise RuntimeError(f"harness JVM exited with {self.p.returncode}")


def stop(p):
    """Kills `p` if it still runs and waits until it has ended."""
    if p is not None and p.poll() is None:
        p.kill()
    if p is not None:
        p.wait()


# ---------------------------------------------------------------- checks

def frames_equal(sdf, odf):
    """The repo's oracle comparison (tools/compare.py): same columns (by
    name), shape, dtypes and values in order, NaN equal to NaN."""
    import numpy as np
    sdf = sdf[sorted(sdf.columns)]
    odf = odf[sorted(odf.columns)]
    if list(sdf.columns) != list(odf.columns) or sdf.shape != odf.shape:
        return False
    for c in sdf.columns:
        if str(sdf[c].dtype) != str(odf[c].dtype):
            return False
        a, b = sdf[c].values, odf[c].values
        if sdf[c].dtype.kind == "f":
            neq = ~((np.isnan(a.astype(float)) & np.isnan(b.astype(float))) | (a == b))
        else:
            an, bn = sdf[c].isna().values, odf[c].isna().values
            neq = ~((an & bn) | ((~an) & (~bn) & (a == b)))
        if neq.any():
            return False
    return True


def check_queries(res, data, cache_dir, threads):
    """Marks each executed query wrong unless its result equals the DuckDB
    oracle on the same inputs. Oracle answers are cached per inputs and
    oracle SQL text."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    os.makedirs(cache_dir, exist_ok=True)
    answers = {}
    for q in res["queries"]:
        if not q["ok"]:
            continue
        name = q["name"]
        if name not in answers:
            sql = res["oracle"].get(name)
            if sql is None:
                answers[name] = None  # no SQL oracle: the run itself is the check
                continue
            cached = os.path.join(cache_dir, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
            if os.path.exists(cached):
                with open(cached, "rb") as f:
                    answers[name] = pickle.load(f)
            else:
                answers[name] = con.sql(sql).df()
                with open(cached, "wb") as f:
                    pickle.dump(answers[name], f)
        if answers[name] is not None:
            got = con.sql(f"SELECT * FROM read_parquet('{q['result']}/*.parquet')").df()
            if not frames_equal(got, answers[name]):
                q["ok"], q["error"] = False, "result differs from the oracle"


def sink_files_by_batch(log_dir):
    """File-sink / file-source metadata log -> {batch id: [entries]}; a
    `.compact` file holds every entry up to its batch."""
    out, seen = {}, set()
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    for f in sorted(files, key=lambda x: int(x.split(".")[0])):
        b = int(f.split(".")[0])
        with open(os.path.join(log_dir, f)) as fh:
            entries = [json.loads(x) for x in fh.read().splitlines()[1:] if x.strip()]
        new = [e for e in entries if e["path"] not in seen]
        seen.update(e["path"] for e in new)
        out[b] = new
    return out


def stream_measures(res, out, gen):
    """Event latency of the fixed-rate phase (raw-sink commit minus the
    generator's creation stamp), burst drain rate, and trace extras."""
    import numpy as np
    import pyarrow.parquet as pq
    prog = {(p["query"], p["batch"]): p for p in res["progress"]}

    def commit_ms(q, b):
        p = prog[(q, b)]
        return p["start_ms"] + p["duration_ms"].get("triggerExecution", 0)

    lat, raw_rows = [], 0
    raw_log = sink_files_by_batch(os.path.join(out, "stream_out", "sensor_readings", "_spark_metadata"))
    for b, entries in raw_log.items():
        for e in entries:
            t = pq.read_table(e["path"].replace("file://", ""), columns=["time"]).column(0).to_numpy()
            raw_rows += len(t)
            ms = t.astype("datetime64[us]").astype(np.int64) / 1000.0
            ms = ms[(ms >= gen["fixed_start_ms"]) & (ms < gen["fixed_end_ms"])]
            lat.extend((commit_ms("raw", b) - ms) / 1000.0)
    # the burst is one file, so the batch that drains it is the one whose
    # input holds at least the burst
    drains = [(p["rows"], p["duration_ms"]["triggerExecution"] / 1000.0)
              for p in res["progress"] if p["rows"] >= gen["burst_events"]]
    rows, secs = min(drains, key=lambda d: d[0] / d[1])
    return {"lat": np.array(lat), "drain_rows": rows, "drain_s": secs, "raw_rows": raw_rows}


# ---------------------------------------------------------------- metrics

def pct(xs, p):
    import numpy as np
    return float(np.percentile(np.asarray(xs, dtype=float), p))


def closed_loop_metrics(res):
    """Latency and throughput over every correct query execution. The tail
    is the mean latency of the slowest quarter of them: a run holds a dozen
    executions, so a single percentile there would rest on one or two
    queries and follow the host's noise in those few seconds."""
    ok = [q for q in res["queries"] if q["ok"]]
    lat = sorted(q["latency_s"] for q in ok) or [float("nan")]
    m = {
        "latency_p50_s": pct(lat, 50),
        "latency_tail_s": statistics.fmean(lat[-max(1, round(len(lat) / 4)):]),
        "throughput_per_s": len(ok) / sum(lat) if ok else 0.0,
    }
    named = {"queries_per_s": m["throughput_per_s"], "query_p50_s": m["latency_p50_s"],
             "query_p90_s": pct(lat, 90), "query_tail_mean_s": m["latency_tail_s"],
             "query_samples": len(ok)}
    return m, named


def layer_metrics(res):
    """The per-layer record of a traced run, per operation (a query
    execution, the ETL run, or a streaming micro-batch)."""
    t = res["trace"]
    ops = max(1, t["ops"])
    per_op = {k: t[k] / ops for k in (
        "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
        "operators.jobs", "operators.stages", "operators.tasks", "operators.driver_gap_s",
        "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s",
        "operators.shuffle_write_mb", "operators.shuffle_read_mb",
        "sources.input_mb", "sources.input_rows")}
    return per_op


UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s", "throughput_per_s": "1/s",
    "bulk_s": "s", "storage_peak_mb": "MB",
    "plans.analysis_s": "s/op", "plans.optimization_s": "s/op", "plans.planning_s": "s/op",
    "operators.jobs": "count/op", "operators.stages": "count/op", "operators.tasks": "count/op",
    "operators.driver_gap_s": "s/op", "operators.task_run_s": "s/op",
    "operators.task_cpu_s": "s/op", "operators.gc_s": "s/op",
    "operators.shuffle_write_mb": "MB/op", "operators.shuffle_read_mb": "MB/op",
    "sources.input_mb": "MB/op", "sources.input_rows": "count/op",
}


# ---------------------------------------------------------------- workloads

def run(a):
    size = SIZES[a.size]
    cpus = max(1, min(4, len(os.sched_getaffinity(0))))
    if a.workload == "curation_session":
        # driver-bound at this corpus size (as fast on 2 worker threads as
        # on 4), so the other cores are left to the driver, JIT and GC
        cpus = min(2, cpus)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    os.makedirs(out)
    gen_py = [sys.executable, os.path.join(HERE, "gen.py")]

    if a.workload == "iot_warehouse":
        inputs = json.loads(subprocess.check_output(gen_py + [
            "warehouse", "--seed", str(a.seed), "--out", data, "--sf", str(size["sf"]),
            "--etl-copies", str(size["etl_copies"])], text=True))
    elif a.workload == "curation_session":
        inputs = json.loads(subprocess.check_output(gen_py + [
            "corpus", "--seed", str(a.seed), "--out", data], text=True))
    else:
        os.makedirs(data)
        subprocess.check_output(gen_py + ["warmup", "--seed", str(a.seed), "--in",
                                          os.path.join(out, "stream_in"), "--rate", str(size["stream_rate"])])
        inputs = {"seed": a.seed, "input": "stream",
                  "sizes": {"rate_per_s": size["stream_rate"], "burst": size["burst"]}}

    log("inputs generated")
    steal0, total0 = cpu_jiffies()
    gen_proc = None
    try:
        with Jvm(cpus, ["--workload", a.workload, "--data", data, "--out", out,
                        "--seconds", str(a.seconds), "--seed", str(a.seed),
                        "--trace", str(a.trace)], os.path.join(work, "jvm.log")) as jvm:
            setup_s = jvm.wait_ready()
            log(f"set up in {setup_s:.3f}s")
            if a.workload == "stream_ingest":
                gen_proc = subprocess.Popen(gen_py + [
                    "stream", "--seed", str(a.seed), "--in", os.path.join(out, "stream_in"),
                    "--stage", out, "--seconds", str(a.seconds), "--rate", str(size["stream_rate"]),
                    "--burst", str(size["burst"])],
                    stdout=subprocess.PIPE, text=True)
            jvm.finish(JVM_TIMEOUT_S)
        if gen_proc is not None:
            gen_stdout = gen_proc.communicate(timeout=30)[0]
    finally:
        stop(gen_proc)
    steal1, total1 = cpu_jiffies()
    log(f"workload JVM finished; host steal {100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}% "
        "of CPU time meanwhile")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    m = {"setup_s": setup_s, "storage_peak_mb": res["storage_peak_mb"]}
    named = {}
    if a.workload in ("iot_warehouse", "curation_session"):
        key = hashlib.sha256(json.dumps([a.workload, a.seed, size]).encode()
                             + open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
        check_queries(res, data, os.path.join(BUILD, "oracle", key), len(os.sched_getaffinity(0)))
        cm, named = closed_loop_metrics(res)
        m.update(cm)
        attempted = len(res["queries"])
        failed = sum(1 for q in res["queries"] if not q["ok"])
        for q in res["queries"]:
            log(f"{q['name']} pass {q['pass']}: {q['latency_s']:.3f}s, "
                f"artifact builds {q['artifact_build_s']:.3f}s")
            if not q["ok"]:
                log(f"FAILED {q['name']} pass {q['pass']}: {q['error']}")
        if a.workload == "iot_warehouse":
            rows = inputs["sizes"]["etl_events"]
            obs = res["etl_observed"]
            etl_ok = obs.get("n_total") == rows and \
                res["etl_fact_rows"] == obs.get("n_total", -1) - obs.get("n_invalid", 0)
            if not etl_ok:
                log(f"FAILED etl: observed {obs}, fact rows {res['etl_fact_rows']}, input {rows}")
            attempted += 1
            failed += 0 if etl_ok else 1
            m["bulk_s"] = res["etl_s"]
            named["etl_rows_per_s"] = rows / res["etl_s"]
        else:
            kind = lambda k: [p["seconds"] for p in res["passes"] if p["kind"] == k]
            # the passes that build the shared artifacts: the first, in a
            # fresh JVM, and each cold one
            m["bulk_s"] = sum(kind("first") + kind("cold"))
            named["build_passes_s"] = m["bulk_s"]
            named["first_pass_s"] = kind("first")[0]
            named["cold_pass_s"] = statistics.median(kind("cold"))
            named["warm_pass_s"] = statistics.median(kind("warm"))
    else:
        gen = json.loads(gen_stdout.strip().splitlines()[-1])["sizes"]
        inputs["sizes"].update(events=gen["events"], valid=gen["valid"])
        sm = stream_measures(res, out, gen)
        m["latency_p50_s"] = pct(sm["lat"], 50)
        m["latency_tail_s"] = pct(sm["lat"], 99)
        m["throughput_per_s"] = sm["drain_rows"] / sm["drain_s"]
        m["bulk_s"] = sm["drain_s"]
        named = {"event_latency_p50_s": m["latency_p50_s"], "event_latency_p99_s": m["latency_tail_s"],
                 "drain_events_per_s": m["throughput_per_s"], "latency_samples": len(sm["lat"]),
                 "gen.late_ms_p99": gen["late_ms_p99"]}
        raw_missing = abs(sm["raw_rows"] - gen["valid"])
        if raw_missing:
            log(f"FAILED raw sink: {sm['raw_rows']} rows, {gen['valid']} valid events generated")
        if res["agg_mismatch"]:
            log(f"FAILED agg store: {res['agg_mismatch']} rows differ from the batch aggregate")
        attempted = gen["valid"] + res["agg_rows"]
        failed = raw_missing + res["agg_mismatch"]
    named["ops_failed_frac"] = failed / max(1, attempted)

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "inputs": inputs["sizes"],
              "end_to_end": m, "named": named}
    # the last untraced run with the same workload, size, seed and seconds:
    # the traced run's overhead is measured against it
    last = os.path.join(BUILD, "last", f"{a.workload}-{a.size}-{a.seed}-{a.seconds:g}.json")
    if a.trace:
        layers = layer_metrics(res)
        report["trace"] = dict(res["trace"], per_op=layers)
        report["trace"].update(stream_layers(res, out, gen) if a.workload == "stream_ingest" else
                               closed_loop_layers(res))
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
            report["trace"]["overhead"] = {k: m[k] - base[k] for k in m}
        else:
            report["trace"]["overhead"] = "unavailable: no untraced run with this seed, size and seconds"
        tdir = os.path.join(BUILD, "traces")
        os.makedirs(tdir, exist_ok=True)
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(tdir, f"{a.workload}-{a.seed}.spans.jsonl"))
        with open(os.path.join(tdir, f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        metrics = layers
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(m, f)
        metrics = m

    for k, v in sorted(m.items()):
        log(f"{a.workload} {k} = {v:.6g} {UNITS[k]}")
    for k, v in sorted(named.items()):
        log(f"{a.workload} {k} = {v:.6g}")
    log(f"{a.workload} inputs (seed {a.seed}): {json.dumps(inputs['sizes'], sort_keys=True)}")
    if a.trace:
        for k, v in sorted(report["trace"].items()):
            if "." in k and k not in report["trace"]["per_op"] and isinstance(v, (int, float)):
                log(f"{a.workload} {k} = {v:.6g}")
        for k, v in sorted(report["trace"]["per_op"].items()):
            log(f"{a.workload} {k} = {v:.6g} {UNITS[k]}")
        for k, v in sorted(report["trace"]["self_s"].items()):
            log(f"{a.workload} self {k} = {v:.4f} s")
        overhead = report["trace"]["overhead"]
        if isinstance(overhead, str):
            log(f"{a.workload} tracing overhead {overhead}")
        else:
            for k, v in sorted(overhead.items()):
                log(f"{a.workload} tracing overhead {k} = {v:+.4g} {UNITS[k]}")
    shutil.rmtree(work, ignore_errors=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()}}


def closed_loop_layers(res):
    """Warehouse-layer metrics of a closed-loop traced run, per query."""
    qs = res["queries"]
    n = max(1, len(qs))
    t = res["trace"]
    out = {
        "warehouse.build_s": t["span_s"].get("warehouse.build", 0.0) / n,
        "warehouse.build_jobs": t["build_jobs"] / n,
        "warehouse.artifact_build_s": sum(q["artifact_build_s"] for q in qs) / n,
        "warehouse.artifact_builds": sum(q["artifact_builds"] for q in qs) / n,
        "warehouse.cache_resident_mb": sum(q["cache_resident_mb"] for q in qs) / n,
        "warehouse.cached_rdds": sum(q["cached_rdds"] for q in qs) / n,
    }
    if "etl_s" in res:
        out.update({"batch.run_s": res["etl_s"],
                    "batch.transform_s": t["span_s"].get("batch.transform", 0.0),
                    "batch.output_mb": res["etl_fact_mb"],
                    "batch.input_mb": t["batch.input_mb"], "batch.input_rows": t["batch.input_rows"]})
    return out


def stream_layers(res, out, gen):
    """Streaming-layer metrics of a traced stream run, over the micro-batches
    of the measured phases (after the warm-up)."""
    import calendar
    import numpy as np
    measured = [p for p in res["progress"] if p["start_ms"] >= gen["fixed_start_ms"] - 100]
    r = {}
    for q in ("raw", "agg"):
        ps = [p for p in measured if p["query"] == q and p["rows"] > 0]
        d = lambda k: [p["duration_ms"].get(k, 0) for p in ps] or [0]
        r[f"streaming.{q}.trigger_ms_p50"] = pct(d("triggerExecution"), 50)
        r[f"streaming.{q}.trigger_ms_p99"] = pct(d("triggerExecution"), 99)
        for k, name in (("addBatch", "add_batch_ms"), ("getBatch", "get_batch_ms"),
                        ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms")):
            r[f"streaming.{q}.{name}"] = float(np.median(d(k)))
    aggs = [p for p in measured if p["query"] == "agg"]
    last = max(aggs, key=lambda p: p["batch"]) if aggs else None
    r["streaming.agg.state_rows"] = last["state_rows"] if last else 0
    r["streaming.agg.state_mem_mb"] = last["state_mem_bytes"] / 1048576.0 if last else 0.0
    # how far event time at the watermark trails the batch's start
    lags = [p["start_ms"] / 1000.0 - calendar.timegm(time.strptime(p["watermark"][:19], "%Y-%m-%dT%H:%M:%S"))
            for p in aggs if p.get("watermark") and not p["watermark"].startswith("1970")]
    r["streaming.watermark_lag_s"] = max(lags) if lags else 0.0
    # backlog: wire files written before a raw batch started but not yet
    # consumed by an earlier batch (the source log is indexed by its own
    # offset, which each batch's offset file names)
    src = sink_files_by_batch(os.path.join(out, "ckpt", "raw_data", "sources", "0"))
    offsets = {}
    odir = os.path.join(out, "ckpt", "raw_data", "offsets")
    for f in os.listdir(odir):
        if f.isdigit():
            with open(os.path.join(odir, f)) as fh:
                offsets[int(f)] = json.loads(fh.read().splitlines()[2])["logOffset"]
    written = [os.path.getmtime(os.path.join(out, "stream_in", f)) * 1000.0
               for f in os.listdir(os.path.join(out, "stream_in")) if not f.startswith(".")]
    backlog = 0
    for p in res["progress"]:
        if p["query"] == "raw" and p["batch"] - 1 in offsets:
            consumed = sum(len(src.get(k, [])) for k in range(offsets[p["batch"] - 1] + 1))
            backlog = max(backlog, sum(1 for w in written if w <= p["start_ms"]) - consumed)
    r["streaming.backlog_files"] = backlog
    r["streaming.start_s"] = res["pipeline_start_s"]
    return r


def main(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="full", help="input size (tiny: smoke test)")
    a = p.parse_args(argv)
    build()
    print(json.dumps(run(a)), flush=True)


if __name__ == "__main__":
    main(sys.argv[1:])
