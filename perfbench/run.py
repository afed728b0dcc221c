#!/usr/bin/env python3
"""The repository's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the bench-side launchers from source when needed
(sbt, offline), runs one workload, checks its outputs, and prints one
JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones in BENCHMARK.json; with --trace 1 the per-layer
ones, from a run whose spans wrap the modules' public entry points. Each
run also writes a record with every figure it took, the host and the
settings it used to perfbench/out/. See perfbench/README.md.
"""
import argparse
import glob
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import redirect_stdout

sys.dont_write_bytecode = True  # nothing lands in the checkout but perfbench/out
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import loadgen  # noqa: E402
from loadgen import pct  # noqa: E402

# ingest_open: offered rates (msgs/s), each for its share of --seconds,
# after WARM_S at the nominal rate on the same topic (set-up: a fresh JVM
# and topic run slower for their first seconds). Latencies are reported
# at the nominal rung, below the latency knee (a frame costs the linger
# plus one flush, not a queue of flushes); the last rung offers more than
# the server can take, so its acked rate is the server's capacity.
LADDER = [2000, 24000]
SHARES = [4, 1]
NOMINAL = 0
WARM_S = 6.0
# bulk_ingest: staged 1 KiB records, in this many files (the file stream
# takes one a micro-batch)
BULK_RECORDS = 16000
BULK_FILES = 4
# analytics_full: the sf the queries read, and the timed passes over it
# (a query's time is its median over the passes: with two, their mean)
DATA_SF = "sf0.01"
PASSES = 2

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p95_ms", "ms"),
              ("work_per_s", "1/s"), ("rss_peak_mb", "MB")]
PER_LAYER = [
    ("serving.binary.self_ms.p50", "ms"), ("serving.binary.self_ms.p99", "ms"),
    ("serving.coalescer.wait_ms.p50", "ms"), ("serving.coalescer.wait_ms.p99", "ms"),
    ("serving.coalescer.groups", "count"), ("serving.coalescer.msgs_per_group.p50", "count"),
    ("engine.produce_local.calls", "count"), ("engine.produce_local.ms.p50", "ms"),
    ("engine.produce_local.ms.p99", "ms"), ("engine.produce_local.busy_ratio", "ratio"),
    ("engine.files_per_flush", "count"), ("engine.store_bytes_per_user_byte", "ratio"),
    ("engine.produce.ms", "ms"), ("engine.poll_bulk.ms", "ms"),
    ("streaming.batches", "count"), ("streaming.add_batch_ms.p50", "ms"),
    ("streaming.wal_commit_ms.p50", "ms"),
    ("query.plan_ms", "ms"), ("query.jobs", "count"), ("query.stages", "count"),
    ("query.tasks", "count"), ("query.exec_ms", "ms"), ("query.task_busy_ratio", "ratio"),
    ("query.shuffle_read_bytes", "bytes"), ("query.shuffle_write_bytes", "bytes"),
    ("query.exchanges", "count"), ("query.bhj", "count"), ("query.shj", "count"),
    ("query.smj", "count"), ("query.spill_bytes", "bytes"), ("query.gc_ms", "ms"),
    ("query.memo_build_s", "s"),
    ("jvm.gc_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("gen.late_ms.p99", "ms"), ("backlog.end", "count"),
    ("trace.op_p50_ms", "ms"), ("trace.work_per_s", "1/s"),
]
# the program's JVM flags, as the root build.sbt sets them for `run`
# (run.py adds -XX:-UsePerfData, so no JVM writes /tmp/hsperfdata_*)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host

def host_settings():
    """JVM sizing from this host: cores from the affinity mask, heap and
    off-heap from MemTotal, so no 24g default ever applies."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    gib = mem_kb / 1048576.0
    return {"nproc": cpus, "mem_total_kb": mem_kb,
            "env": {"SPARK_GRAFT_CPUS": str(cpus),
                    "SPARK_DRIVER_MEM": "%dg" % max(1, min(4, int(gib / 5))),
                    "SPARK_GRAFT_OFFHEAP": "%dg" % max(1, min(2, int(gib / 8)))}}


# ----------------------------------------------------------------- build

def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(REPO, "src", "main"), os.path.join(HERE, "src")):
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names]
    return files


def build():
    """Compiles with sbt when any source is newer than the last build;
    returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= max(os.path.getmtime(f) for f in sources()):
        with open(cp_file) as f:
            return f.read().strip()
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building (sbt compile)")
    with open(os.path.join(OUT, "build.log"), "w") as out:
        proc = subprocess.run(["sbt", "--batch"] + opts + ["compile", "writeClasspath"], cwd=HERE, env=env,
                              stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise RuntimeError("build failed, see perfbench/out/build.log")
    with open(cp_file) as f:
        return f.read().strip()


# ------------------------------------------------------------------- JVMs

class Jvm:
    """One bench JVM: launched with the host's sizing, its stdout read for
    markers, VmHWM sampled until it exits, killed if still alive."""

    def __init__(self, ctx, main, args, name):
        self.t0 = time.perf_counter()
        cmd = (["java"] + [a for o in ADD_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % o)] +
               ["-Xmx" + ctx["host"]["env"]["SPARK_DRIVER_MEM"], "-XX:+UseParallelGC", "-XX:-UsePerfData",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Djava.io.tmpdir=" + ctx["tmp"], "-cp", ctx["classpath"], main] + args)
        self.log_path = os.path.join(ctx["root"], name + ".log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(cmd, cwd=ctx["root"], env=dict(os.environ, **ctx["host"]["env"]),
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True)
        self.hwm_kb = 0
        threading.Thread(target=self._sample, daemon=True).start()

    def _sample(self):
        path = "/proc/%d/status" % self.proc.pid
        while self.proc.poll() is None:
            try:
                with open(path) as f:
                    m = re.search(r"VmHWM:\s+(\d+)", f.read())
                if m:
                    self.hwm_kb = max(self.hwm_kb, int(m.group(1)))
            except OSError:
                return
            time.sleep(0.1)

    def wait_for(self, marker, timeout):
        """Seconds from launch until stdout shows `marker`, and that line."""
        result = {}

        def read():
            for line in self.proc.stdout:
                if line.startswith(marker):
                    result["line"] = line.strip()
                    return

        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(timeout)
        if "line" not in result:
            raise RuntimeError("%s did not reach %s within %ds; see %s" % (
                os.path.basename(self.log_path), marker, timeout, self.log_path))
        return time.perf_counter() - self.t0, result["line"]

    def finish(self, timeout):
        """Closes stdin (the serve stack's stop signal) and waits."""
        try:
            self.proc.stdin.write("STOP\n")
            self.proc.stdin.close()
        except (BrokenPipeError, OSError):
            pass
        try:
            self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError("%s did not exit within %ds" % (os.path.basename(self.log_path), timeout))
        if self.proc.returncode != 0:
            raise RuntimeError("%s exited %d; see %s" % (os.path.basename(self.log_path), self.proc.returncode,
                                                          self.log_path))

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.log.close()

    @property
    def rss_peak_mb(self):
        return self.hwm_kb / 1024.0


def read_json(path):
    with open(path) as f:
        return json.load(f)


def read_spans(path):
    spans = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                parts = line.rstrip("\n").split("\t")
                if len(parts) == 5:
                    spans.append((parts[0], parts[1], int(parts[2]), int(parts[3]), int(parts[4])))
    return spans


def store_layout(store_root, topic):
    files = size = 0
    for root, _, names in os.walk(os.path.join(store_root, "data", "topic=" + topic)):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def ms(span):
    return (span[3] - span[2]) / 1e6


# ------------------------------------------------------------- workloads

def serve(ctx):
    args = ["--root", os.path.join(ctx["root"], "store"), "--trace", str(ctx["trace"]),
            "--spans", os.path.join(ctx["root"], "spans.tsv"), "--out", os.path.join(ctx["root"], "serve.json")]
    jvm = ctx["jvm"] = Jvm(ctx, "graft.perfbench.ServeStack", args, "serve")
    ctx["ready_s"], line = jvm.wait_for("READY", 150)
    _, rest_port, bin_port = line.split()
    return jvm, int(rest_port), int(bin_port)


def serve_layers(ctx, topic, user_bytes):
    """The serve stack's per-layer figures: flush spans, store layout, JVM.
    Returns the channel spans by request id too."""
    spans = read_spans(os.path.join(ctx["root"], "spans.tsv"))
    # warm-up requests carry ids starting with "w"
    flushes = [s for s in spans if s[0] == "produce_local" and any(
        not i.startswith("w") for i in s[1].split(",") if i)]
    channel = {s[1]: s for s in spans if s[0] == "channel"}
    waits = [(f[2] - channel[i][2]) / 1e6 for f in flushes for i in f[1].split(",") if i in channel]
    files, size = store_layout(os.path.join(ctx["root"], "store"), topic)
    busy_window = (max(f[3] for f in flushes) - min(f[2] for f in flushes)) if flushes else 0
    served = read_json(os.path.join(ctx["root"], "serve.json"))
    return channel, {
        "serving.coalescer.wait_ms.p50": pct(waits, 50), "serving.coalescer.wait_ms.p99": pct(waits, 99),
        "serving.coalescer.groups": len(flushes),
        "serving.coalescer.msgs_per_group.p50": pct([f[4] for f in flushes], 50),
        "engine.produce_local.calls": len(flushes),
        "engine.produce_local.ms.p50": pct([ms(f) for f in flushes], 50),
        "engine.produce_local.ms.p99": pct([ms(f) for f in flushes], 99),
        "engine.produce_local.busy_ratio": sum(f[3] - f[2] for f in flushes) / busy_window if busy_window else 0,
        "engine.files_per_flush": files / len(flushes) if flushes else 0,
        "engine.store_bytes_per_user_byte": size / user_bytes if user_bytes else 0,
        "jvm.gc_ms": served["jvm_gc_ms"], "jvm.heap_peak_mb": served["jvm_heap_peak_mb"],
    }


def ingest_open(ctx):
    jvm, rest_port, bin_port = serve(ctx)
    gen = loadgen.OpenLoop(bin_port, ctx["seed"], "bench")
    rungs = []
    try:
        warm = gen.rung(-1, LADDER[NOMINAL], WARM_S)
        setup_s = time.perf_counter() - jvm.t0
        for i, rate in enumerate(LADDER):
            rungs.append(gen.rung(i, rate, ctx["seconds"] * SHARES[i] / sum(SHARES)))
            log("rung %d msgs/s: %s" % (rate, {k: v for k, v in rungs[-1].items() if k != "latencies"}))
    finally:
        gen.close()
    # sustained: the highest rung that, with every rung below it, meets the
    # latency limit; steady: the same for a backlog that does not grow
    sustained = steady = 0.0
    meets = True
    for r in rungs:
        if not (r["valid"] and r["steady"]):
            break
        steady = r["achieved_msgs_s"]
        meets = meets and r["meets_limit"]
        sustained = r["achieved_msgs_s"] if meets else sustained
    capacity = rungs[-1]["achieved_msgs_s"]
    acked, sent = gen.acked_records(), gen.sent_ids()
    failures, notes = loadgen.read_back(rest_port, "bench", acked, sent, "check")
    # the warm-up's records are read back and checked too
    failed = sum(r["failed_frames"] for r in rungs + [warm]) * loadgen.OpenLoop.RECORDS + failures
    nominal = rungs[NOMINAL]
    result = {"attempted": len(sent), "failed": failed, "notes": notes,
              "metrics": {"setup_s": setup_s, "op_p50_ms": nominal["window_p50_ms"],
                          "op_p95_ms": nominal["window_p95_ms"], "work_per_s": capacity},
              "detail": {"ladder": [{k: v for k, v in r.items() if k != "latencies"} for r in rungs],
                         "limit_ms": loadgen.LIMIT_MS, "nominal_rate": LADDER[NOMINAL],
                         "ack_p50_ms": nominal["ack_p50_ms"], "ack_p99_ms": nominal["ack_p99_ms"],
                         "sustained_msgs_s": sustained, "steady_msgs_s": steady,
                         "capacity_msgs_s": capacity}}
    jvm.finish(60)
    if ctx["trace"]:
        channel, layers = serve_layers(ctx, "bench", len(acked) * loadgen.OpenLoop.SIZE)
        self_ms = [rtt - ms(channel[rid]) for rid, rtt in gen.client_rtts().items()
                   if rid in channel and not rid.startswith("w")]
        layers.update({"serving.binary.self_ms.p50": pct(self_ms, 50), "serving.binary.self_ms.p99": pct(self_ms, 99),
                       "gen.late_ms.p99": max(r["late_p99_ms"] for r in rungs),
                       "backlog.end": sum(r["unacked_frames"] for r in rungs) * loadgen.OpenLoop.RECORDS})
        result["layers"] = layers
    return result


def analytics_queries():
    """The fixed query set, in a fixed order: a query's time includes the
    clean-up of the one before it, so an order that moved with the seed
    would move the per-query times with it."""
    with open(os.path.join(HERE, "queries.txt")) as f:
        return [line.split()[0] for line in f if line.strip() and not line.startswith("#")]


def oracle_check(dump):
    """tools/verify_local.py, unmodified, on this run's dump: DuckDB runs
    each query's oracle SQL over the same sf tables. Returns (failed
    query names, report)."""
    spec = importlib.util.spec_from_file_location("verify_local", os.path.join(REPO, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with redirect_stdout(buf):
        mod.main(os.path.join(HERE, "data", DATA_SF), dump)
    report = buf.getvalue()
    bad = [line.split()[0] for line in report.splitlines()
           if line.strip() and not line.startswith(" ") and " OK (" not in line and "ALL OK" not in line
           and "FAILURES" not in line]
    return bad, report


def analytics_full(ctx):
    dump = os.path.join(ctx["root"], "dump")
    out = os.path.join(ctx["root"], "analytics.json")
    data = os.path.join(HERE, "data", DATA_SF)
    # the warmup and every timed pass read a hard-linked copy of the same
    # tables: same scale, so no timed query pays for the first run at that
    # scale, but a directory of their own, so each pass builds its memos
    copies = [shutil.copytree(data, os.path.join(ctx["root"], name), copy_function=os.link)
              for name in ["warm"] + ["pass%d" % i for i in range(PASSES)]]
    jvm = ctx["jvm"] = Jvm(ctx, "graft.perfbench.Analytics", [
        "--queries", ",".join(analytics_queries()), "--warm", copies[0], "--passes", ",".join(copies[1:]),
        "--out", out, "--dump", dump, "--trace", str(ctx["trace"])], "analytics")
    setup_s, _ = jvm.wait_for("SETUP_DONE", 150)
    jvm.finish(160)
    res = read_json(out)
    runs = res["seconds"]
    bad, report = oracle_check(dump)
    failed_queries = sorted(set(bad) | {n for n, s in runs.items() if min(s) < 0})
    # a query's time is its median over the passes, memo builds included
    times = {n: statistics.median(s) for n, s in runs.items() if n not in failed_queries}
    suite_s = sum(times.values())
    times_ms = [t * 1e3 for t in times.values()]
    result = {"attempted": len(runs), "failed": len(failed_queries),
              "notes": "%d queries, oracle mismatches or failures: %s" % (len(runs), failed_queries or "none"),
              "metrics": {"setup_s": setup_s, "op_p50_ms": pct(times_ms, 50), "op_p95_ms": pct(times_ms, 95),
                          "work_per_s": len(times) / suite_s if suite_s else 0},
              "detail": {"suite_s": suite_s, "query_p50_s": pct(list(times.values()), 50),
                         "query_p95_s": pct(list(times.values()), 95),
                         "seconds": runs, "jvm_gc_ms": res["jvm_gc_ms"], "oracle_report": report.splitlines()}}
    if ctx["trace"]:
        prof = res["profile"]
        tot = {k: sum(q[k] for q in prof.values()) for k in next(iter(prof.values()))}
        plan_ms = tot["analysis_ms"] + tot["optimization_ms"] + tot["planning_ms"]
        result["profile"] = prof
        result["layers"] = {
            "query.plan_ms": plan_ms, "query.jobs": tot["jobs"], "query.stages": tot["stages"],
            "query.tasks": tot["tasks"], "query.exec_ms": tot["seconds"] * 1e3 - plan_ms,
            "query.task_busy_ratio": res["task_busy_ratio"],
            "query.shuffle_read_bytes": tot["shuffle_read_bytes"],
            "query.shuffle_write_bytes": tot["shuffle_write_bytes"], "query.exchanges": tot["exchanges"],
            "query.bhj": tot["bhj"], "query.shj": tot["shj"], "query.smj": tot["smj"],
            "query.spill_bytes": tot["spill_bytes"], "query.gc_ms": tot["gc_ms"],
            "query.memo_build_s": tot["memo_build_s"],
            "jvm.gc_ms": res["jvm_gc_ms"], "jvm.heap_peak_mb": res["jvm_heap_peak_mb"]}
    return result


def bulk_ingest(ctx):
    t0 = time.perf_counter()
    out = os.path.join(ctx["root"], "bulk.json")
    spans_path = os.path.join(ctx["root"], "spans.tsv")
    stage = loadgen.write_stage(os.path.join(ctx["root"], "stage"), BULK_RECORDS, BULK_FILES, ctx["seed"])
    jvm = ctx["jvm"] = Jvm(ctx, "graft.perfbench.Bulk", [
        "--root", os.path.join(ctx["root"], "bulk"), "--stage", stage,
        "--records", str(BULK_RECORDS), "--out", out, "--spans", spans_path,
        "--trace", str(ctx["trace"])], "bulk")
    jvm.wait_for("SETUP_DONE", 150)
    setup_s = time.perf_counter() - t0
    jvm.finish(160)
    res = read_json(out)
    batch_ms = res["batch_ms"]
    # the whole cycle: each record is produced, drained and streamed once,
    # so a slower produce, poll or stream moves it
    cycle = 3 * BULK_RECORDS / (res["produce_s"] + res["poll_s"] + res["stream_s"])
    result = {"attempted": res["checked"], "failed": res["failed"], "notes": "; ".join(res["problems"]),
              "metrics": {"setup_s": setup_s, "op_p50_ms": pct(batch_ms, 50), "op_p95_ms": pct(batch_ms, 95),
                          "work_per_s": cycle},
              "detail": {"records": BULK_RECORDS, "produce_msgs_s": BULK_RECORDS / res["produce_s"],
                         "consume_msgs_s": BULK_RECORDS / res["poll_s"],
                         "stream_msgs_s": BULK_RECORDS / res["stream_s"], "batch_ms": batch_ms}}
    if ctx["trace"]:
        spans = read_spans(spans_path)
        produces = [s for s in spans if s[0] == "produce"]
        result["layers"] = {
            "engine.produce.ms": pct([ms(s) for s in produces if s[1] == "bulk"], 50),
            "engine.poll_bulk.ms": pct([ms(s) for s in spans if s[0] == "poll_bulk"], 50),
            "engine.files_per_flush": res["data_files"] / len(produces) if produces else 0,
            "engine.store_bytes_per_user_byte": res["data_bytes"] / res["user_bytes"],
            "streaming.batches": res["stream_batches"],
            "streaming.add_batch_ms.p50": pct(res["stream_add_batch_ms"], 50),
            "streaming.wal_commit_ms.p50": pct(res["stream_wal_commit_ms"], 50),
            "jvm.gc_ms": res["jvm_gc_ms"], "jvm.heap_peak_mb": res["jvm_heap_peak_mb"]}
    return result


WORKLOADS = {"ingest_open": ingest_open, "analytics_full": analytics_full, "bulk_ingest": bulk_ingest}


# ------------------------------------------------------------------ main

def sweep_stale_roots():
    """Removes run roots whose process is gone: a killed run must not
    leave its stores behind to slow the runs after it."""
    for d in glob.glob(os.path.join(OUT, "run-*")):
        try:
            os.kill(int(d.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        log("no program sources at %s; run from a checkout of the repository" % REPO)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(OUT, exist_ok=True)
    sweep_stale_roots()
    classpath = build()
    host = host_settings()
    root = os.path.join(OUT, "run-%d" % os.getpid())
    os.makedirs(os.path.join(root, "tmp"))
    ctx = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace, "root": root,
           "tmp": os.path.join(root, "tmp"), "classpath": classpath, "host": host}
    load_start = os.getloadavg()
    t_start = time.perf_counter()
    try:
        res = WORKLOADS[a.workload](ctx)
        res["metrics"]["rss_peak_mb"] = ctx["jvm"].rss_peak_mb
    finally:
        if "jvm" in ctx:
            ctx["jvm"].kill()
        shutil.rmtree(root, ignore_errors=True)
    if a.trace:
        res["layers"]["trace.op_p50_ms"] = res["metrics"]["op_p50_ms"]
        res["layers"]["trace.work_per_s"] = res["metrics"]["work_per_s"]
        metrics = {n: {"value": res["layers"].get(n, 0), "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": res["metrics"][n], "unit": u} for n, u in END_TO_END}
    res["detail"]["ready_s"] = ctx.get("ready_s")
    res["detail"]["run_s"] = time.perf_counter() - t_start
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "host": {"nproc": host["nproc"], "mem_total_kb": host["mem_total_kb"], "settings": host["env"],
                       "loadavg_start": load_start, "loadavg_end": os.getloadavg()},
              "attempted": res["attempted"], "failed": res["failed"], "notes": res["notes"],
              "end_to_end": res["metrics"], "per_layer": res.get("layers"), "detail": res["detail"],
              "profile": res.get("profile")}
    name = "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)
    with open(os.path.join(OUT, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    log("%s: %s" % (res["notes"], json.dumps(res["detail"], default=str)[:2000]))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
