#!/usr/bin/env python3
"""The benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload relational_scan --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --all             # every workload, metrics by name
    python3 perfbench/run.py --self-test       # the harness's own tests

Run from the root of a checkout. The first run builds the program and
the harness from source (see build.py); each run then generates its
inputs from `--seed` (gen.py), runs the workload in one JVM
(perfbench.Main), checks the outputs, and prints as its last line
`{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. See BENCH.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["relational_scan", "dashboard_live"]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_ms_p50", "ms"),
              ("latency_ms_p75", "ms"), ("retained_mb", "MiB")]

MODULES = ["SparkEntry", "Frames", "Activity", "Alerts", "Cdc", "AvroCodec",
           "Gavro", "Temporal", "Sketches"]

# The per-layer metrics of the traced run's last line. Time-valued ones
# are measured on both workloads (per query execution on relational_scan,
# per micro-batch on dashboard_live); a layer only one workload exercises
# reports counts, bytes and shares of time, which read 0 on the other.
# The traced run also prints, by name, the layer timings in milliseconds
# that only one workload has (streaming phases, KV and REST latencies,
# generator lateness, per-module seconds); see BENCH.md.
PER_LAYER = [
    ("query.build_ms", "ms"), ("query.plan_ms", "ms"),
    ("query.wall_ms_p50", "ms"), ("query.wall_ms_p90", "ms"),
    ("Session.jobs", "count"), ("Session.stages", "count"), ("Session.tasks", "count"),
    ("Session.failed_tasks", "count"), ("Session.task_run_ms", "ms"),
    ("Session.task_cpu_ms", "ms"), ("Session.gc_ms", "ms"),
    ("Session.core_busy_frac", "ratio"), ("Session.shuffle_write_bytes", "B"),
    ("Session.shuffle_read_bytes", "B"), ("Session.spill_bytes", "B"),
    ("sources.input_bytes", "B"), ("sources.input_rows", "count"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("trace.coverage", "ratio"),
    ("plans.exchanges", "count"), ("plans.topk_nodes", "count"),
    ("sources.gavro_blocks_read", "count"), ("sources.gavro_blocks_total", "count"),
    ("sources.gavro_block_read_frac", "ratio"),
] + [(f"ops.{m}.share", "ratio") for m in MODULES] + [
    ("streaming.latest_offset_frac", "ratio"), ("streaming.query_planning_frac", "ratio"),
    ("streaming.wal_commit_frac", "ratio"), ("streaming.add_batch_frac", "ratio"),
    ("streaming.commit_offsets_frac", "ratio"), ("streaming.state_commit_frac", "ratio"),
    ("streaming.batches", "count"), ("streaming.catchup_batches", "count"),
    ("streaming.empty_batch_frac", "ratio"), ("streaming.input_rows", "count"),
    ("streaming.state_rows", "count"), ("streaming.state_memory_bytes", "B"),
    ("streaming.dropped_by_watermark", "count"), ("streaming.backlog_files_max", "count"),
    ("KvSink.writes", "count"), ("KvSink.publishes", "count"), ("Resp.reads", "count"),
    ("Api.requests", "count"), ("Api.errors", "count"), ("WsPush.frames", "count"),
    ("WsPush.frames_per_publish", "ratio"), ("WsPush.bytes", "B"),
]

# Units of the metrics only the human-readable lines carry.
REPORT_UNITS = {
    "catchup_eps": "events/s", "freshness_ms_p50": "ms", "freshness_ms_p90": "ms",
    "api_ms_p50": "ms", "api_ms_p99": "ms", "query_s_p50": "s", "query_s_p90": "s",
    "failed_frac": "ratio", "gen_s": "s", "live_s": "s", "drain_s": "s",
    "checks_s": "s", "check_pass_s": "s", "executions": "count", "oracle_checked": "count",
    "freshness_samples": "count", "api_samples": "count",
    "panel_freshness_samples": "count", "panel_freshness_ms_p90": "ms",
    "setup_cold_s": "s", "peak_rss_mb": "MiB", "warm_pass_s": "s", "window_jit_ms": "ms",
}


def unit_of(name):
    """Unit of any metric by name: the contract lists, then the report
    table, then the name's suffix."""
    units = dict(END_TO_END + PER_LAYER)
    units.update(REPORT_UNITS)
    if name in units:
        return units[name]
    for suffix, unit in (("_ms", "ms"), ("_ms_p50", "ms"), ("_ms_p90", "ms"),
                         ("_ms_p99", "ms"), ("_ms_max", "ms"), ("_ms_total", "ms"),
                         (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


# Workload sizing (4 cores). relational_scan: sf0.01 tables. dashboard_live:
# a backlog of one file-source batch (Jobs.MaxFilesPerTrigger = 64 files) of
# 500-event files, then one file every 250 ms at 1,000 events per file =
# 4,000 events/s; the REST client polls at 10 GETs/s.
BATCH_SF = 0.01
BACKLOG_FILES = 64
BACKLOG_EVENTS = 500
LIVE_EVENTS = 1000
INTERVAL_MS = 250.0
REST_RATE = 10.0
RUN_LIMIT_S = 170


def java_cmd(jars, prog, harness, main, args, heap="2g"):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([prog, harness, os.path.join(jars, "*")])
    return cmd + ["-cp", cp, main] + args


def run_jvm(cmd, cwd, log_path, timeout):
    """Runs the JVM in its own process group; kills the group on timeout."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "tmp"))
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    cmd = cmd[:1] + [f"-Djava.io.tmpdir={env['SPARK_LOCAL_DIRS']}"] + cmd[1:]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"JVM did not finish within {timeout:.0f} s")


def run_once(workload, seed, seconds, trace, start):
    """One run. A run that had to build first may take longer (the first
    run in a checkout); any other run must finish within RUN_LIMIT_S."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload}; choose from {WORKLOADS}")
    jars, prog, harness, built = build.build()
    deadline = start + (900 if built else RUN_LIMIT_S)
    work = os.path.join(build.OUT, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--out", os.path.join(work, "result.json")]
    t0 = time.time()
    if workload == "relational_scan":
        data = os.path.join(work, "data")
        gen.batch_tables(data, seed, BATCH_SF)
        args += ["--data", data]
    else:
        live_files = int(seconds * 1000 / INTERVAL_MS)
        stage = os.path.join(work, "stage")
        gen.stream_files(stage, seed, BACKLOG_FILES, BACKLOG_EVENTS, live_files,
                         LIVE_EVENTS, INTERVAL_MS / 1000.0)
        args += ["--stage", stage, "--backlog-files", str(BACKLOG_FILES),
                 "--live-files", str(live_files), "--interval-ms", str(INTERVAL_MS),
                 "--rest-rate", str(REST_RATE)]
    gen_s = time.time() - t0
    log = os.path.join(work, "jvm.log")
    code = run_jvm(java_cmd(jars, prog, harness, "perfbench.Main", args), work, log,
                   deadline - time.time())
    if code != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {code}; log tail:\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    res["human"]["gen_s"] = gen_s
    if workload == "relational_scan":
        passed, failures = oracle_check(data, os.path.join(work, "results"), work, deadline)
        res["attempted"] += passed + len(failures)
        res["failed"] += len(failures)
        res["notes"] += [f"oracle {f}" for f in failures]
        res["human"]["oracle_checked"] = passed + len(failures)
    res["human"]["failed_frac"] = res["failed"] / max(1, res["attempted"])
    return res


def oracle_check(data, results, work, deadline):
    """Compares the check pass with the DuckDB oracle using the repository's
    own checker, `tools/check.py <tables> <results>`, which exits with 1 when
    a query mismatches. Returns the number of queries that passed and the
    checker's FAIL lines."""
    checker = os.path.join(build.ROOT, "tools", "check.py")
    proc = subprocess.run([sys.executable, checker, data, results], cwd=work,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=max(1.0, deadline - time.time()))
    lines = proc.stdout.splitlines()
    summary = [l for l in lines if l.endswith("rows-only") and " pass, " in l]
    if proc.returncode not in (0, 1) or not summary:
        raise RuntimeError("tools/check.py failed:\n" + proc.stdout[-3000:])
    failures = [l for l in lines if l.startswith("FAIL ")]
    return int(summary[-1].split()[0]), failures


def contract_line(res, trace):
    """The last line. An end-to-end metric that could not be measured fails
    the run; a per-layer metric the workload does not exercise reads 0."""
    names = PER_LAYER if trace else END_TO_END
    source = res["layers"] if trace else res["metrics"]
    metrics = {}
    for name, unit in names:
        v = source.get(name)
        if v is None and not trace:
            raise RuntimeError(f"metric {name} was not measured")
        metrics[name] = {"value": 0.0 if v is None else v, "unit": unit}
    return {"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
            "failed": int(res["failed"]), "metrics": metrics}


def report(workload, res):
    """Human-readable lines: every metric by name with its unit."""
    rows = dict(res["metrics"])
    rows.update(res["human"])
    rows.update(res["layers"])
    for k in sorted(rows):
        v = "n/a" if rows[k] is None else f"{rows[k]:.4f}"
        print(f"{workload:16s} {k:34s} {v:>16s} {unit_of(k)}")
    for n in res["notes"]:
        print(f"{workload:16s} note: {n}")


def self_test():
    jars, prog, harness, _ = build.build()
    os.makedirs(os.path.join(build.OUT, "selftest"), exist_ok=True)
    return subprocess.call(java_cmd(jars, prog, harness, "perfbench.SelfTest", [], "1g"),
                           cwd=os.path.join(build.OUT, "selftest"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    start = time.time()
    try:
        if a.self_test:
            sys.exit(self_test())
        if a.all:
            for w in WORKLOADS:
                for trace in (0, 1):
                    res = run_once(w, a.seed, a.seconds, trace, time.time())
                    print(f"== {w} trace={trace}")
                    report(w, res)
            return
        if not a.workload:
            ap.error("--workload is required")
        res = run_once(a.workload, a.seed, a.seconds, a.trace, start)
        report(a.workload, res)
        print(json.dumps(contract_line(res, a.trace)))
    except (build.BuildError, RuntimeError, ValueError, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
