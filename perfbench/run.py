#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Builds the engine and the workload code (``perfbench/build.sbt``) when
their sources changed, generates the workload's inputs from the seed,
runs the workload in one JVM, checks the outputs, and prints as its last
stdout line ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (see README.md). The line before it names every workload
metric, with sample counts.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import chainmap  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dashboard", "realtime_chain")
CPUS = 4
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def listed(kind):
    """{name: unit} of the metrics BENCHMARK.json lists under ``kind``
    (``end_to_end`` or ``per_layer``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, timeout, **kw):
    """Runs ``cmd`` in its own process group; on timeout kills the group
    and waits for it, so nothing the benchmark started outlives it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ------------------------------------------------------------------ build

def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 installation")
    return home


def source_digest():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles through sbt when any source changed since the last build."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: the engine sources (src/main/scala) are "
                         "missing; run from the root of a full checkout")
    stamp = os.path.join(HERE, "target", "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    log("building (sbt compile)")
    with open(os.path.join(HERE, "target", "build.log"), "w") as out:
        rc = run_bounded(cmd + ["compile"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
                         stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {out.name})")
    with open(stamp, "w") as f:
        f.write(digest)


# ------------------------------------------------------------- workloads

def run_jvm(workload, seed, seconds, trace, work, inputs, cpus):
    result = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}:{spark_home()}/jars/*", "graftbench.Main", workload,
              str(seed), str(seconds), "1" if trace else "0", work, inputs,
              str(cpus), result])
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"perfbench: workload JVM failed (rc={rc}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def check_dashboard(res, work, inputs):
    """Each registry panel's first response against its DuckDB oracle, then
    every response against its panel's first response (the search and
    rank panels are checked against batch recomputations in the JVM).
    Returns the failed requests."""
    import duckdb
    import pandas as pd
    from check_oracle import table_of  # the repo's oracle canonicalisation
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    x = res["extra"]
    responses = x["responses"]
    oracle_ok, first = {}, {}
    for r in responses:
        first.setdefault(r["query"], r)
    for name in first:
        if name not in x["registry"]:
            oracle_ok[name] = True
            continue
        sql = x["oracle_sql"].get(name)
        try:
            got = table_of(pd.read_parquet(f"{work}/ads_out/{name}"))
            oracle_ok[name] = sql is not None and got == table_of(con.sql(sql).df())
        except Exception as e:  # an unreadable output or oracle error fails the query
            log(f"oracle check of {name} errored: {e}")
            oracle_ok[name] = False
        if not oracle_ok[name]:
            log(f"dashboard: {name} differs from its DuckDB oracle")
    bad = [r for r in responses
           if not oracle_ok[r["query"]]
           or (r["rows"], r["digest"]) != (first[r["query"]]["rows"], first[r["query"]]["digest"])]
    return len(bad)


def chain_metrics(res, work):
    """Freshness, backlog and file→batch coverage from the checkpoints.
    Timed file k = warmup_files + i was due at sched_ms[i]; the warm-up
    files before it were staged during set-up and are only checked for
    coverage. Freshness counts from the due time, not from the move: the
    generator thread shares the JVM and the cores with the engine, so
    when it runs late the engine's own load (GC, busy cores) held it up,
    and an open loop charges that wait to the system under test. How
    late it ran is reported apart (chain.gen_late_ms)."""
    import calendar
    import pyarrow.parquet as pq
    x = res["extra"]
    t0, stop, warm = x["t0_ms"], x["stop_ms"], x["warmup_files"]
    due = {warm + i: t for i, t in enumerate(x["sched_ms"])}
    staged = range(warm + len(due))
    unmapped = 0
    done, commits, batches = {}, {}, {}
    for topic, q in (("cdc", "cdc"), ("events", "vs")):
        ckpt = os.path.join(work, "ckpt", q)
        commits[topic] = chainmap.commit_times_ms(ckpt)
        batches[topic] = chainmap.file_batches(ckpt)
        for k in staged:
            b = batches[topic].get(os.path.join(work, "stage", topic, f"f{k:05d}.parquet"))
            done[topic, k] = commits[topic].get(b)
            unmapped += done[topic, k] is None
    dim_fresh = [done["cdc", k] - t for k, t in due.items() if done["cdc", k] is not None]
    backlog = sum(1 for (_, k), c in done.items() if k in due and (c is None or c > stop))
    read_bytes = {}
    for path, b in batches["cdc"].items():
        read_bytes[b] = read_bytes.get(b, 0) + os.path.getsize(path)
    # DWS: a window row becomes visible at the commit of the batch that
    # wrote its file, the first commit at or after the file's mtime; it is
    # due when the watermark can pass its end: window end + 11 s
    vs_commits = sorted(commits["events"].values())
    visible = {}
    for f in glob.glob(os.path.join(work, "out", "dws_visitor_stats", "*.parquet")):
        mt = os.stat(f).st_mtime_ns / 1e6
        vis = next((c for c in vs_commits if c >= mt), None)
        for e in set(pq.read_table(f, columns=["edt"]).column("edt").to_pylist()):
            if vis is not None:
                visible[e] = max(visible.get(e, vis), vis)
    dws_fresh = [vis - (t0 + (calendar.timegm(time.strptime(e, "%Y-%m-%d %H:%M:%S"))
                          - gen.EPOCH0) * 1000 + 11000)
                 for e, vis in visible.items()]
    late = [a - d for a, d in zip(x["arrived_ms"], x["sched_ms"])]
    return dict(dim_fresh=dim_fresh, dws_fresh=dws_fresh, backlog=backlog,
                unmapped=unmapped, files=2 * len(staged), late=late,
                read_bytes=read_bytes)


def chain_layers(res, x, cm):
    """Per-layer numbers from the streaming progress events of a traced run."""
    prog = [json.loads(p) for p in x.get("progress", [])]
    cdc = [p for p in prog if p["id"] == x["cdc_query"]]
    vs = [p for p in prog if p["id"] == x["vs_query"]]
    data = [p for p in prog if p.get("numInputRows", 0) > 0]

    def med(ps, key):
        v = [p["durationMs"].get(key, 0) for p in ps]
        return stats.median(v) or 0.0
    lay = {
        "chain.cdc_batch_ms": med([p for p in cdc if p.get("numInputRows", 0) > 0],
                                  "triggerExecution"),
        "chain.vs_batch_ms": med([p for p in vs if p.get("numInputRows", 0) > 0],
                                 "triggerExecution"),
        "chain.add_batch_ms": med(data, "addBatch"),
        "chain.wal_commit_ms": med(data, "walCommit"),
        "chain.planning_ms": med(data, "queryPlanning"),
        "chain.jobs_per_trigger": sum(x["stream_jobs"].values()) / max(len(prog), 1),
        "chain.gen_late_ms": max(cm["late"]) if cm["late"] else 0.0,
        "snapshot.write_amp": sum(w["bytes"] for w in x["dim_writes"]) / max(
            1, sum(cm["read_bytes"].get(w["batch"], 0) for w in x["dim_writes"])),
    }
    ops = [o for p in vs for o in p.get("stateOperators", [])]
    lay["chain.state_rows"] = max((o.get("numRowsTotal", 0) for o in ops), default=0)
    lay["chain.state_mb"] = max((o.get("memoryUsedBytes", 0) for o in ops), default=0) / 1048576
    lay["chain.rows_dropped_by_watermark"] = sum(o.get("numRowsDroppedByWatermark", 0)
                                                 for o in ops)
    # how far the watermark trails the schedule when a batch starts
    lags = []
    for p in vs:
        wm = p.get("eventTime", {}).get("watermark")
        if wm and not wm.startswith("1970"):
            ts = _iso_ms(p["timestamp"])
            lags.append((ts - x["t0_ms"]) - (_iso_ms(wm) - gen.EPOCH0 * 1000))
    lay["chain.watermark_lag_ms"] = stats.median(lags) or 0.0
    return lay


def _iso_ms(s):
    from datetime import datetime
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="Spark local threads (default 4; 1 for the single-thread baseline)")
    a = ap.parse_args()

    metric_units = listed("per_layer" if a.trace else "end_to_end")
    build()
    setup_t0 = time.time()
    work = os.path.join(HERE, "target", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        if a.workload == "dashboard":
            gen.dashboard(inputs, a.seed)
        else:
            gen.chain(inputs, a.seed, a.seconds)
        t = time.time()
        log(f"inputs generated in {t - setup_t0:.1f} s")
        res = run_jvm(a.workload, a.seed, a.seconds, a.trace, work, inputs, a.cpus)
        log(f"workload JVM ran {time.time() - t:.1f} s ({res['jvm_s']:.1f} s in main)")
        t = time.time()
        out = report(a, res, work, inputs, setup_t0, metric_units)
        log(f"checked and reported in {time.time() - t:.1f} s")
        if a.trace:
            os.makedirs(os.path.join(HERE, "target", "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                HERE, "target", "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out["workload_line"]))
    print(json.dumps(out["result"]))


def report(a, res, work, inputs, setup_t0, metric_units):
    s = res["samples"]
    failed = res["failed"]
    attempted = res["attempted"]
    if a.workload == "dashboard":
        failed += check_dashboard(res, work, inputs)
        reqs = res["extra"]["responses"]
        lat = [r["ms"] for r in reqs]
        # the gated latency is the mean over the first pass: the same 15
        # reads on every host, however many passes fit in the time
        latency = stats.mean([r["ms"] for r in reqs if r["pass"] == 0])
        commit = sum(sum(s.get(k, [])) for k in ("push.commit", "search.commit")) or None
        wm = {"panel_p50_ms": stats.median(lat),
              "panel_p90_ms": stats.valid_percentile(lat, 0.9),
              "push_commit_ms": stats.median(s.get("push.commit", [])),
              "search_commit_ms": stats.median(s.get("search.commit", [])),
              "search_serve_p50_ms": stats.median(s.get("search_box", [])),
              "rank_read_p50_ms": stats.median(s.get("rank_top10", [])),
              "passes": res["extra"]["passes"],
              "first_pass_ms": {r["query"]: r["ms"] for r in reqs if r["pass"] == 0}}
        n = len(lat)
    else:
        cm = chain_metrics(res, work)
        attempted += cm["files"]
        failed += cm["unmapped"]
        wm = {"dim_fresh_p50_ms": stats.median(cm["dim_fresh"]),
              "dim_fresh_p90_ms": stats.valid_percentile(cm["dim_fresh"], 0.9),
              "dws_fresh_p50_ms": stats.median(cm["dws_fresh"]),
              "dws_fresh_p90_ms": stats.valid_percentile(cm["dws_fresh"], 0.9),
              "backlog_end_files": cm["backlog"],
              "dws_windows": len(cm["dws_fresh"])}
        # about six CDC batches a run: too few for a median by the rule
        # above, so the commit time is their mean
        latency, commit = wm["dim_fresh_p50_ms"], stats.mean(s.get("route", []))
        n = len(cm["dim_fresh"])
    setup_s = res["first_op_wall_ms"] / 1000.0 - setup_t0
    wm.update(latency_ms=latency, commit_ms=commit, setup_s=setup_s,
              peak_heap_mb=res["peak_heap_mb"], failed_share=failed / max(attempted, 1),
              samples=n)
    if a.trace:
        lay = dict(res["layer"])
        if a.workload == "realtime_chain":
            lay.update(chain_layers(res, res["extra"], cm))
        lay["trace.latency_ms"] = latency
        # a layer the workload does not exercise did no work on it: 0
        values = {k: lay.get(k, 0.0) for k in metric_units}
    else:
        values = {"latency_ms": latency, "commit_ms": commit, "setup_s": setup_s,
                  "peak_heap_mb": res["peak_heap_mb"]}
    metrics = {k: {"value": _num(values.get(k)), "unit": u} for k, u in metric_units.items()}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        raise SystemExit(f"perfbench: no value for {missing}")
    if res["failures"]:
        log(f"failures: {res['failures'][:5]}")
    return {
        "workload_line": {"workload": a.workload, "seed": a.seed, "metrics": wm,
                          "extra": {k: v for k, v in res["extra"].items()
                                    if k in ("push_jobs", "search_jobs",
                                             "dws_rows_checked", "self_ms")}},
        "result": {"correct": failed == 0, "attempted": int(attempted),
                   "failed": int(failed), "metrics": metrics}}


def _num(v):
    return None if v is None else float(v)


if __name__ == "__main__":
    main()
