#!/usr/bin/env python3
"""One command for every workload of the benchmark:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed in a separate process, runs the
harness JVM, checks outputs, and prints one JSON line: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Metric names, units and
workloads come from BENCHMARK.json. See perfbench/README.md.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))  # check_correctness, the DuckDB-oracle checker
import metrics as M  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
DRAIN_EVENTS = 4000
# dwd_drain's second backlog for base_log, devices uniform over gen.WIDE_MIDS
WIDE_EVENTS = 4000
PACED_RATE = 50           # events/s; keep in step with the ods_paced `why`
PACED_WARMUP_S = 3.0
EPOCHS = 2
# Non-windowed topics, so a lag holds no window length: event time -> the
# commit that made the row visible (paced), or backlog publication -> commit
# (drains).
LAG_TOPICS = [("dwd_page_log", "ts"), ("dwm_unique_visit", "ts"), ("dwm_order_wide", "create_ts")]
JVM_TIMEOUT_S = 170
# A fixed, pre-touched heap: the resident-set high-water mark then moves with
# off-heap memory, not with the timing of heap growth and full GCs (heap use
# is the per-layer jvm.heap_peak_mb).
HEAP = "4g"
# Workloads too long for the gate's run budget, so left out of BENCHMARK.json;
# the same command runs them by hand (README.md), with room for longer runs.
MANUAL_WORKLOADS = ("ods_drain", "ods_paced", "maintain_epochs")
MANUAL_TIMEOUT_S = 1500
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source state; the classpath is cached under .perfbench."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the program's sources (src/main/scala) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the program")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(WORK, "classpath"), os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    log("building the program and the harness (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HARNESS, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log("built in %.0f s" % (time.time() - t0))
    return cps[-1].strip()


def bench_sf_default():
    """The sf directory `graft.Bench` reads when SPARK_GRAFT_SF_DIR is unset."""
    with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
        m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
    if not m:
        fail("set SPARK_GRAFT_SF_DIR: no default found in graft.Bench")
    return m.group(1)


def gen(args, out):
    cmd = [sys.executable, os.path.join(HERE, "gen.py")] + args + ["--out", out]
    subprocess.run(cmd, check=True, timeout=170)


def jvm_cmd(cp, a, run_dir, gen_dir, sf):
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           "-Dlog4j2.configurationFile=" + os.path.join(HARNESS, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", run_dir,
            "--gen", gen_dir, "--sf", sf, "--cpus", str(os.cpu_count() or 4)]
    if a.master:
        cmd += ["--master", a.master]
    return cmd


def stop(proc):
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_jvm(cmd, timeout, paced=None):
    """Run the harness; for the paced workload, drive the generator once the
    harness has its queries up, then tell it to stop."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=ROOT)
    try:
        if paced is not None:
            ready, gen_args, gen_out, stop_file = paced
            t0 = time.time()
            while not os.path.exists(ready):
                if proc.poll() is not None:
                    fail("harness exited before its queries were up")
                if time.time() - t0 > 120:
                    fail("harness not ready after 120 s")
                time.sleep(0.05)
            gen(gen_args, gen_out)
            late = json.load(open(os.path.join(gen_out, "gen_log.json")))["counts"]["late_events"]
            with open(stop_file + ".tmp", "w") as f:
                f.write(str(late))
            os.rename(stop_file + ".tmp", stop_file)
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail("harness did not finish in time")
    finally:
        stop(proc)
    if proc.returncode != 0:
        fail("harness failed with exit code %d" % proc.returncode)


def cached_oracle(sf, mix_dir):
    """Replace `<mix_dir>/oracle_sql.json` with queries that read the DuckDB
    oracle's results back from parquet kept under .perfbench, computed once
    per (sf, oracle SQL): the oracle costs ~8 s a run, the read-back well
    under one."""
    import duckdb
    from check_correctness import TABLES
    path = os.path.join(mix_dir, "oracle_sql.json")
    with open(path) as f:
        sqls = json.load(f)
    key = hashlib.sha256(json.dumps([os.path.abspath(sf), sorted(sqls.items())]).encode()).hexdigest()[:16]
    cache = os.path.join(WORK, "oracle-" + key)
    if not os.path.isdir(cache):
        tmp = cache + ".tmp-%d" % os.getpid()
        os.makedirs(tmp)
        con = duckdb.connect()
        for t in TABLES:
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, sf, t))
        for name, sql in sqls.items():
            con.sql("COPY (%s) TO '%s/%s.parquet' (FORMAT PARQUET)" % (sql, tmp, name))
        con.close()
        os.rename(tmp, cache)
    with open(path, "w") as f:
        json.dump({name: "SELECT * FROM '%s/%s.parquet'" % (cache, name) for name in sqls}, f)


def check_mix(sf, mix_dir, res):
    """Each query's last written result (`<mix_dir>/<name>/*.parquet`)
    against the DuckDB oracle's over the same tables, by the repository's own
    checker, tools/check_correctness.py, which reads `<mix_dir>/oracle_sql.json`.
    Each FAIL turns that query's (already counted) execution into a failed one."""
    import check_correctness
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check_correctness.main(sf, mix_dir)
    for line in out.getvalue().splitlines():
        if line.startswith("FAIL "):
            res["failed"] += 1
            res["failures"].append(line[len("FAIL "):])
            log("FAILED: " + res["failures"][-1])


def self_times(spans):
    """Self time per span: its duration minus the union of its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = []
    for s in spans:
        iv = sorted((max(c["start"], s["start"]), min(c["end"], s["end"])) for c in kids.get(s["id"], [])
                    if c["kind"] != "stage")
        covered, cur = 0.0, None
        for a, b in iv:
            if b <= a:
                continue
            if cur is None or a > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
            else:
                cur[1] = max(cur[1], b)
        if cur:
            covered += cur[1] - cur[0]
        out.append(dict(s, self_ms=max(0.0, s["end"] - s["start"] - covered)))
    return out


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--master", help="Spark master override, e.g. local[1] for the single-threaded reference")
    a = ap.parse_args(argv)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]] + list(MANUAL_WORKLOADS):
        fail("unknown workload " + a.workload)
    cp = build()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or bench_sf_default()
    if a.workload in ("maintain_epochs", "batch_mix") and not os.path.exists(os.path.join(sf, "events.parquet")):
        fail("sf tables not found in " + sf)
    run_dir = os.path.join(WORK, "run-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    gen_dir = os.path.join(run_dir, "gen")
    ok = False
    try:
        res, extra = execute(a, cp, run_dir, gen_dir, sf)
        ok = res["failed"] == 0
    finally:
        # a failed or wrong run keeps its inputs, outputs and checkpoints
        if ok:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            log("run directory kept: " + os.path.relpath(run_dir, ROOT))
    report(a, spec, res, extra)


def execute(a, cp, run_dir, gen_dir, sf):
    cmd = jvm_cmd(cp, a, run_dir, gen_dir, sf)
    timeout = MANUAL_TIMEOUT_S if a.workload in MANUAL_WORKLOADS else JVM_TIMEOUT_S
    extra = {}
    if a.workload in ("ods_drain", "dwd_drain"):
        wide = WIDE_EVENTS if a.workload == "dwd_drain" else 0
        gen(["drain", "--seed", str(a.seed), "--events", str(DRAIN_EVENTS), "--wide-events", str(wide)], gen_dir)
        run_jvm(cmd, timeout)
    elif a.workload == "ods_paced":
        gen(["paced", "--seed", str(a.seed), "--dims-only"], gen_dir)
        paced_args = ["paced", "--seed", str(a.seed), "--rate", str(PACED_RATE),
                      "--seconds", str(PACED_WARMUP_S + a.seconds)]
        run_jvm(cmd, timeout, (os.path.join(run_dir, "ready"), paced_args, gen_dir, os.path.join(run_dir, "stop")))
    elif a.workload == "maintain_epochs":
        gen(["epochs", "--seed", str(a.seed), "--sf", sf, "--epochs", str(EPOCHS)], gen_dir)
        run_jvm(cmd, timeout)
    else:
        run_jvm(cmd, timeout)
    res = json.load(open(os.path.join(run_dir, "result.json")))
    s = res["samples"]
    if a.workload in ("ods_drain", "dwd_drain"):
        per_topic = {}
        for d in s["drains"]:
            for topic, _ in LAG_TOPICS:
                if not os.path.isdir(os.path.join(d["bus"], topic)):
                    continue
                xs = M.sink_lags(os.path.join(d["bus"], topic), None, origin_ms=d["start_ms"])
                per_topic.setdefault(topic, []).extend(xs)
        # one operation of a closed-loop drain = one app run
        extra["latency"] = s["app_run_ms"]
        extra["throughput"] = sum(d["events"] for d in s["drains"]) / (sum(d["wall_ms"] for d in s["drains"]) / 1e3)
        extra["per_topic"] = per_topic
    elif a.workload == "ods_paced":
        glog = json.load(open(os.path.join(gen_dir, "gen_log.json")))
        c = glog["counts"]
        since = (c["start"] + PACED_WARMUP_S) * 1000.0
        bus = s["bus"]
        per_topic = {t: M.sink_lags(os.path.join(bus, t), f, since_ms=since) for t, f in LAG_TOPICS}
        extra["latency"] = [x for xs in per_topic.values() for x in xs]
        extra["per_topic"] = per_topic
        extra["throughput"] = len(per_topic["dwd_page_log"]) / (c["end"] - c["start"] - PACED_WARMUP_S)
        extra["gen_late_p99_ms"] = M.tail(glog["late_ms"])[1]
        extra["backlog_end"] = c["page_events"] - M.committed_rows_by(os.path.join(bus, "dwd_page_log"), c["end"])
        if c["late_events"] or c["ooo_events"]:
            log("paced: %d late and %d out-of-order events of %d" % (c["late_events"], c["ooo_events"], c["events"]))
    elif a.workload == "maintain_epochs":
        calls = s["calls"]
        extra["latency"] = [x["ms"] for x in calls]
        extra["throughput"] = sum(x["rows"] for x in calls) / (sum(x["ms"] for x in calls) / 1e3)
    else:
        cached_oracle(sf, s["mix_dir"])
        check_mix(sf, s["mix_dir"], res)
        # one operation of the closed loop = the 7 twins of one timed round
        extra["latency"] = [x * 1000.0 for x in s["twin_rounds_s"]]
        extra["throughput"] = len(s["queries"]) / sum(s["passes_s"])
        extra["query_ms"] = [x["s"] * 1000.0 for x in s["queries"]]
    return res, extra


def report(a, spec, res, extra):
    s = res["samples"]
    lat = extra["latency"]
    q, tail_v, n = M.tail(lat)
    e2e = {
        "setup_s": M.median(s["setup_s"]),
        "ok_frac": M.ok_frac(res["attempted"], res["failed"]),
        "peak_rss_mb": s["peak_rss_mb"],
        "throughput_per_s": extra["throughput"],
        "latency_p50_ms": M.median(lat),
        "latency_tail_ms": tail_v,
    }
    log("%s seed %d: latency p50 %.1f ms, p%g %.1f ms over %d samples; throughput %.2f/s; "
        "setup %s s; %d/%d ops ok" % (a.workload, a.seed, e2e["latency_p50_ms"], round(q * 100, 1), tail_v,
                                       n, e2e["throughput_per_s"], ["%.2f" % x for x in s["setup_s"]],
                                       res["attempted"] - res["failed"], res["attempted"]))
    if a.trace:
        layers = dict(res["layers"])
        for topic, xs in extra.get("per_topic", {}).items():
            layers["lag.%s_p50_ms" % topic] = M.median(xs)
        if "gen_late_p99_ms" in extra:
            layers["gen.late_p99_ms"] = extra["gen_late_p99_ms"]
            layers["paced.backlog_end_events"] = extra["backlog_end"]
        if "query_ms" in extra:
            qq, qtail, qn = M.tail(extra["query_ms"])
            layers["query.p50_ms"] = M.median(extra["query_ms"])
            layers["query.tail_ms"] = qtail
            log("per query execution: p50 %.1f ms, p%g %.1f ms over %d samples"
                % (layers["query.p50_ms"], round(qq * 100, 1), qtail, qn))
        layers["trace.throughput_per_s"] = e2e["throughput_per_s"]
        layers["trace.latency_p50_ms"] = e2e["latency_p50_ms"]
        spans = self_times(res["spans"])
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tfile = os.path.join(WORK, "traces", "%s-%d%s.json" % (a.workload, a.seed,
                                                               "-" + a.master if a.master else ""))
        with open(tfile, "w") as f:
            json.dump({"spans": spans, "layers": layers, "e2e": e2e}, f)
        by = {}
        for sp in spans:
            k = (sp["kind"], sp["name"].split("@")[0].split("#")[0])
            by[k] = by.get(k, 0.0) + sp["self_ms"]
        for (kind, name), v in sorted(by.items(), key=lambda kv: -kv[1])[:12]:
            log("self time %-10s %-28s %10.1f ms" % (kind, name, v))
        log("trace written to " + os.path.relpath(tfile, ROOT))
        out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec["per_layer"]}
    else:
        out = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))


if __name__ == "__main__":
    main(sys.argv[1:])
