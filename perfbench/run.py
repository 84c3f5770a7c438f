#!/usr/bin/env python3
"""KG-construction benchmark for graft.

Run from the repository root:

    python3 perfbench/run.py --workload kg_wide_nt --seed 1 --seconds 12 --trace 0

It builds the program from source (once per source state), generates the
workload's inputs from the seed, runs one JVM that sets up, warms up and
measures the workload in a closed loop, checks every output it wrote against
a DuckDB oracle, and prints one JSON result as the last line of stdout. With
`--trace 0` the result holds the end-to-end metrics, with `--trace 1` the
per-layer metrics. Details (per-repetition samples, percentiles, contention
telemetry, trace spans) go to stdout lines above the result and to
`perfbench/.work/last_report.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402

# `--seconds` becomes a fixed repetition count, round(seconds / nominal), so
# every commit under comparison does the same work. The nominal seconds are
# set so that --seconds 12 gives 4 / 1 repetitions: the first kg_wide_nt
# repetition after the small warm-up is still JIT-cold, so its median needs
# more than one; an ops_curation repetition is ~16 s of driver-bound jobs.
NOMINAL_REP_S = {"kg_wide_nt": 3.0, "ops_curation": 12.0}
WORKLOADS = tuple(NOMINAL_REP_S)
JVM_TIMEOUT_S = 165
JVM_HEAP = "3g"
# A run is flagged contended when the cores other processes kept busy just
# before it exceed this share of the cores, or when the host probe before and
# after it differs by more than this ratio (the host itself ran at another
# speed). The 1-minute load average is reported too, but cannot gate: a run
# started right after another inherits that run's load for minutes.
LOAD_LIMIT = 0.25
DRIFT_LIMIT = 1.25
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_ticks():
    """The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    irq softirq steal, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_s():
    """Hypervisor steal time of all CPUs so far, in seconds."""
    return cpu_ticks()[7] / 100.0


def busy_cores(cores, window_s=1.0):
    """Cores kept busy over `window_s` while this process sleeps: the CPU
    demand of everything else on the machine."""
    t0 = cpu_ticks()
    time.sleep(window_s)
    d = [b - a for a, b in zip(t0, cpu_ticks())]
    total = sum(d)
    return cores * (total - d[3] - d[4]) / total if total else 0.0


def host_probe_s():
    """Median seconds of a fixed single-threaded md5 chain: a yardstick of
    how fast this (shared) host ran around the measurement."""
    def once():
        t, h = time.perf_counter(), b"x"
        for _ in range(100_000):
            h = hashlib.md5(h).digest()
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(7))


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt (offline) unless the
    sources are unchanged since the last build. Returns the runtime classpath."""
    stamp_path, cp_path = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_path) and os.path.exists(cp_path):
        with open(stamp_path) as f:
            if f.read() == stamp:
                with open(cp_path) as g:
                    return g.read().strip()
    log("building program + harness with sbt")
    if os.path.exists(stamp_path):
        os.remove(stamp_path)  # classes are rewritten in place from here on
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_path, "w") as f:
        f.write(cp)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS
           + ["-cp", cp, "graft.perfbench.Harness"] + args)
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S} s")


def summary(values):
    """Median plus the highest percentile that still has at least ten samples
    above it (none below eleven samples), with the sample count."""
    s = sorted(values)
    out = {"n": len(s), "median": statistics.median(s) if s else None}
    if len(s) >= 11:
        out[f"p{(100 * (len(s) - 10)) // len(s)}"] = s[len(s) - 11]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src/main/scala/graft/Engine.scala")):
        raise SystemExit("perfbench: graft sources (src/main/scala) not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cores = os.cpu_count() or 1
    load_start, steal_start, t_start = os.getloadavg()[0], steal_s(), time.time()
    busy_start = busy_cores(cores)
    probe_start = host_probe_s()
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    timed_dir, warm_dir, meta = inputs.prepare(a.workload, a.seed, os.path.join(WORK, "inputs"), cores)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    report_path = os.path.join(run_dir, "report.json")
    reps = max(1, round(a.seconds / NOMINAL_REP_S[a.workload]))
    try:
        rc = run_jvm(cp, ["--workload", a.workload, "--inputs", timed_dir, "--warm", warm_dir,
                          "--work", run_dir, "--reps", str(reps),
                          "--trace", str(a.trace), "--cores", str(cores),
                          "--report", report_path], run_dir)
        if not os.path.exists(report_path):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            raise SystemExit(f"perfbench: harness exited {rc} without a report")
        with open(report_path) as f:
            rep = json.load(f)
        if not rep.get("ok"):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            raise SystemExit(f"perfbench: harness failed: {rep.get('error')}")
        host = {"load_start": load_start, "busy_start": busy_start, "steal_s": steal_s() - steal_start,
                "run_s": time.time() - t_start, "probe_start_s": probe_start,
                "probe_end_s": host_probe_s()}
        result = evaluate(a, rep, meta, timed_dir, run_dir, cores, host, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def evaluate(a, rep, meta, timed_dir, run_dir, cores, host, spec):
    reps = rep["reps"]
    # output checks. kg_wide_nt: every timed repetition's files, and the
    # traced Engine.run's. ops_curation: the warm-up pass wrote each row's
    # result under the session the timed passes use, and is compared to the
    # row's oracle; each timed repetition's per-row counts must match it.
    if a.workload == "kg_wide_nt":
        for r in reps:
            r["check"] = "error: " + r["error"] if r.get("error") else \
                checks.nt_dir(r["out"], meta["timed"], r["records"], cores)
            r["output_bytes"] = checks.data_bytes(r["out"])
        extra = {}
        if a.trace:
            extra["traced_engine_run"] = checks.nt_dir(
                os.path.join(run_dir, "ladder-engine"), meta["timed"],
                rep["layers"]["engine.records"], cores)
    else:
        check_dir = os.path.join(run_dir, "check")
        extra, oracle_rows = checks.ops_dir(
            check_dir, os.path.join(check_dir, "oracle_sql.json"), timed_dir,
            os.path.join(os.path.dirname(timed_dir), "oracle"), cores)
        ops_bytes = sum(checks.data_bytes(os.path.join(check_dir, row)) for row in extra)
        bad = [row for row, v in extra.items() if v != "ok"]
        for r in reps:
            counts = dict(zip(extra, r["unit_records"]))
            wrong = [row for row, n in counts.items() if oracle_rows.get(row) != n]
            r["check"] = "error: " + r["error"] if r.get("error") else \
                f"oracle mismatch: {bad}" if bad else \
                f"row counts differ from the oracle: {wrong}" if wrong else "ok"
            r["output_bytes"] = ops_bytes
    # every checked unit counts once: each repetition, plus for kg_wide_nt
    # the traced Engine.run
    units = [r["check"] for r in reps] + list(extra.values() if a.workload == "kg_wide_nt" else [])
    attempted, failed = len(units), sum(1 for c in units if c != "ok")
    ok_reps = [r for r in reps if r["check"] == "ok"]
    load_start, busy_start = host["load_start"], host["busy_start"]
    probes = (host["probe_start_s"], host["probe_end_s"])
    drift = max(probes) / min(probes)
    contended = busy_start > LOAD_LIMIT * cores or drift > DRIFT_LIMIT

    details = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
        "inputs": meta, "setup_s": rep.get("setup_s"),
        "wall_s": summary([r["wall_s"] for r in ok_reps]),
        "cpu_s": summary([r["cpu_s"] for r in ok_reps]),
        "peak_heap_mb": summary([r["peak_heap_mb"] for r in ok_reps]),
        "peak_managed_mb": summary([r["peak_managed_mb"] for r in ok_reps]),
        "fail_ratio": failed / attempted, "checks": extra,
        "contention": {"load_start": load_start, "load_end": os.getloadavg()[0],
                       "busy_cores_start": busy_start,
                       "threshold": LOAD_LIMIT * cores, "contended": contended,
                       "host_steal_s": host["steal_s"], "run_s": host["run_s"],
                       "host_probe_s": list(probes), "host_drift": drift,
                       "drift_limit": DRIFT_LIMIT,
                       "process_user_s": rep.get("process_user_s"),
                       "process_sys_s": rep.get("process_sys_s")},
        "engine.cached_after_reps": sum(1 for r in reps if r["cached_after"]),
        "reps": [{k: v for k, v in r.items() if k != "out"} for r in reps],
    }
    if contended:
        log(f"run flagged contended: {busy_start:.2f} cores busy at start (limit "
            f"{LOAD_LIMIT * cores:.2f}), host probe drift {drift:.2f}x (limit {DRIFT_LIMIT}x)")
    if details["engine.cached_after_reps"]:
        log(f"CacheManager not empty after {details['engine.cached_after_reps']} repetition(s)")

    if a.trace:
        metrics = trace_metrics(a, rep, ok_reps, host, drift, contended, details)
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    else:
        med = lambda k: statistics.median(r[k] for r in ok_reps) if ok_reps else 0.0
        metrics = {
            "setup_s": rep["setup_s"], "wall_s": med("wall_s"), "cpu_s": med("cpu_s"),
            "peak_managed_mb": med("peak_managed_mb"),
            "records_per_s": statistics.median(r["records"] / r["wall_s"] for r in ok_reps)
            if ok_reps else 0.0,
            "output_mb": med("output_bytes") / 1048576.0,
        }
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    with open(os.path.join(WORK, "last_report.json"), "w") as f:
        json.dump(details, f, indent=1)
    print(f"{a.workload} inputs: {json.dumps(meta)}")
    for k in ("wall_s", "cpu_s", "peak_heap_mb", "peak_managed_mb"):
        print(f"{a.workload} {k}: {json.dumps(details[k])}")
    for k, v in sorted(details.get("layers", {}).items()):
        print(f"{a.workload} layer {k}: {v}")
    for k, v in (details["checks"] or {}).items():
        print(f"{a.workload} check {k}: {v}")
    print(f"{a.workload} fail_ratio: {details['fail_ratio']} contended: {contended} "
          f"load_start: {load_start:.2f} busy_cores_start: {busy_start:.2f} "
          f"host_drift: {drift:.3f} host_steal_s: {host['steal_s']:.2f}")
    for name, unit in names:
        print(f"{a.workload} {name} = {metrics.get(name, 0.0)} {unit}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in names}}


def trace_metrics(a, rep, ok_reps, host, drift, contended, details):
    layers = dict(rep.get("layers", {}))
    untraced = statistics.median(r["wall_s"] for r in ok_reps) if ok_reps else 0.0
    if untraced > 0:
        layers["trace.overhead_s"] = layers["trace.wall_s"] - untraced
    if a.workload == "kg_wide_nt" and untraced > 0:
        # the positive self times: above 1 + trace.overhead_s / wall by as
        # much as the negative rungs hide
        layers["ladder.coverage"] = layers["ladder.positive_sum_s"] / untraced
        layers["dedup.wall_share"] = layers["dedup.self_s"] / untraced
    layers["engine.cached_after"] = layers.get("engine.cached_after", 0) + \
        details["engine.cached_after_reps"]
    layers["run.load_start"] = host["load_start"]
    layers["run.busy_cores_start"] = host["busy_start"]
    layers["run.host_probe_ms"] = 500.0 * (host["probe_start_s"] + host["probe_end_s"])
    layers["run.host_drift"] = drift
    layers["run.contended"] = 1 if contended else 0
    details["layers"] = layers
    details["spans"] = rep.get("spans", [])
    return layers


if __name__ == "__main__":
    main()
