#!/usr/bin/env python3
"""The repository's benchmark: one command that runs a workload, checks its
outputs and prints every metric with its unit.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
this harness with sbt (perfbench/build.sbt); everything a run writes stays
under .bench_build/ in the checkout. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics. perfbench/README.md defines each one.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import urllib.request

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
MODELS = os.path.join(WORK, "models")
ORACLE_CACHE = os.path.join(WORK, "oracle-cache")
BENCH = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json"))) \
    if os.path.exists(os.path.join(HERE, "..", "BENCHMARK.json")) else None

CATALOG_ORDER = ["q140_ivfpq_rerank", "q202_bfs_khop", "q232_dbscan_calibrated"]
CATALOG_SF, CATALOG_WARM_SF = 0.1, 0.001
# Set-ups per run, reported as their median. catalog_mix sets up once: its
# cold code generation alone takes about 36 s on a 4-core host.
SETUPS = {"orion_roundtrip": 3, "catalog_mix": 1}
RATES = [100, 300, 1000]
WARM_RATE, WARM_SECONDS = 1000, 2
LATENCY_LIMIT_MS = 3000.0
# Latency counts notifications due after the first third of each rung, once
# batch sizes have settled to the rung's rate.
RUNG_SETTLE = 1 / 3
RUN_DEADLINE_S = 170.0
# A fixed heap geometry, smaller than the -Xmx10g of the program's build.
# With a fixed heap and young generation the resident set follows retained
# data (caches, pins, state). Under the build's 10 GB cap the collector sizes
# the heap adaptively, and VmHWM spread by a quarter to a third between runs
# on a 4-core host. The catalog run peaks near 2.3 GB, so the rss_peak_mb
# bound trips well before this cap does.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]


def log(*a):
    print(*a, flush=True)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def program_files():
    """The files the build and the catalog inputs depend on."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                gen.__file__):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            for f in sorted(files):
                yield os.path.join(d, f)


def sources_mtime():
    return max(os.path.getmtime(f) for f in program_files())


def build():
    """Builds the program and the harness once per checkout; returns the
    runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= sources_mtime():
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=logf, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed, see {os.path.join(WORK, 'build.log')}")
    return open(cp_file).read().strip()


# Spark on JDK 17 outside spark-submit needs these, as the program's own
# build passes them to its forked JVMs.
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(cp, run_dir, args, deadline):
    """Runs perfbench.Main; returns its JSON record."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "jvm.json")
    cmd = ["java"] + JVM_HEAP + [f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--out", out] + [str(a) for a in args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM passed the run deadline, see {os.path.join(run_dir, 'jvm.log')}")
    if p.returncode != 0 or not os.path.exists(out):
        fail(f"JVM exited with {p.returncode}, see {os.path.join(run_dir, 'jvm.log')}")
    return json.load(open(out))


# ---- host-drift stamp ---------------------------------------------------------

def calibrate():
    """Seconds taken by a fixed single-thread kernel (a SHA-256 chain)."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0


# ---- statistics ---------------------------------------------------------------

def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


def median(xs):
    return float(statistics.median(xs)) if xs else 0.0


# ---- workloads ----------------------------------------------------------------

def roundtrip(cp, a, run_dir, deadline):
    out = os.path.join(run_dir, "load.json")
    load = subprocess.Popen([sys.executable, os.path.join(HERE, "loadgen.py"),
                             "--seed", str(a.seed), "--out", out],
                            stdout=subprocess.PIPE, text=True)
    try:
        ready = load.stdout.readline().split()
        if not ready or ready[0] != "READY":
            fail("load process did not start")
        broker, ctl = ready[1], ready[2]
        rec = jvm(cp, run_dir, ["--workload", a.workload, "--trace", a.trace,
                                "--setups", SETUPS[a.workload],
                                "--seconds", a.seconds / len(RATES),
                                "--ctl-port", ctl, "--broker-port", broker,
                                "--rates", ",".join(map(str, RATES)),
                                "--warm-rate", WARM_RATE, "--warm-seconds", WARM_SECONDS],
                  deadline)
        urllib.request.urlopen(urllib.request.Request(
            f"http://127.0.0.1:{ctl}/finish", data=b"{}"), timeout=30).read()
        load.wait(timeout=60)
    finally:
        if load.poll() is None:
            load.kill()
            load.wait()
    return rec, json.load(open(out))


def roundtrip_metrics(rec, load):
    notifs = load["notifications"]
    # per entity: broker receipt times with the running minimum of values
    covered = {}
    for e, ups in load["updates"].items():
        ups = sorted(ups)
        times, mins, m = [], [], float("inf")
        for t, v in ups:
            if v is not None and v < m:
                m = v
                times.append(t)
                mins.append(m)
        covered[e] = (times, mins)

    def latency_ms(n):
        """Scheduled send to the first broker update whose value is at or
        below this notification's (values strictly decrease per entity, so
        that update carries this notification or a later one)."""
        times, mins = covered.get(n[3], ([], []))
        for t, m in zip(times, mins):
            if m <= n[4]:
                return (t - n[5]) * 1000.0
        return float("inf")

    ladder = [n for n in notifs if n[0] == "ladder"]
    phase = load["phases"]["ladder"]
    settled_from = {r["rate"]: r["start"] + RUNG_SETTLE * (r["end"] - r["start"])
                    for r in phase["rungs"]}
    steady = [n for n in ladder if n[5] >= settled_from[n[1]]]
    lat = [latency_ms(n) for n in steady]
    status_bad = sum(1 for n in notifs if n[8] != 200)
    lost_final = sum(1 for e, v in load["last_sent"].items()
                     if (covered.get(e, ([], []))[1] or [float("inf")])[-1] != v)
    by_rung = {}
    for n, l in zip(steady, lat):
        by_rung.setdefault(n[1], []).append(l)
    # Time to consistency: per rung, the mean over the entities it touched of
    # the delay from the scheduled send of an entity's last notification in
    # the rung to the broker holding that value (or a later one); summed over
    # the rungs. The final drain, the largest such delay, is a single sample
    # and too unsteady.
    final = {}
    for n in ladder:
        final[(n[1], n[3])] = n
    final_s = {}
    for (rate, _), n in final.items():
        final_s.setdefault(rate, []).append(latency_ms(n) / 1000.0)
    e2e = {
        "setup_s": median([s["total_s"] for s in rec["setups"]]),
        "wall_s": sum(statistics.mean(v) for v in final_s.values()),
        # Each offered rate weighs the same: pooled samples would let the
        # top rung, which has most of them and swings most with the host's
        # speed, set the figure alone.
        "latency_p50_ms": statistics.mean(pct(v, 50) for v in by_rung.values()),
        "latency_p99_ms": statistics.mean(pct(v, 99) for v in by_rung.values()),
        "rss_peak_mb": rec["rss_peak_mb"],
    }
    layer = {
        "gen.lag_ms_max": max((n[6] - n[5]) * 1000.0 for n in ladder),
        "gen.sent": len(ladder),
        "sources.post_ms_p50": pct([(n[7] - n[6]) * 1000.0 for n in ladder], 50),
        "sources.post_ms_p99": pct([(n[7] - n[6]) * 1000.0 for n in ladder], 99),
        "sources.accepted": sum(1 for n in ladder if n[8] == 200),
        "sources.refused_429": sum(1 for n in ladder if n[8] == 429),
        "sink.connections": sum(1 for t in load["sink_connections"]
                                if phase["start"] <= t <= phase["drained_at"]),
    }
    updates_in_ladder = sum(1 for ups in load["updates"].values() for t, _ in ups
                            if phase["start"] <= t <= phase["drained_at"])
    layer["sink.updates"] = updates_in_ladder
    layer["sink.updates_per_notif"] = updates_in_ladder / max(1, len(ladder))
    progress = [p for p in rec["progress"]
                if phase["start"] <= tracing.iso_ms(p["timestamp"]) / 1000.0 <= phase["drained_at"]]
    layer.update(tracing.streaming_layers(progress))
    sustained = 0
    for r in phase["rungs"]:
        rl = by_rung.get(r["rate"], [])
        rate = r["rate"]
        layer[f"rung.latency_p50_ms.r{rate}"] = pct(rl, 50)
        layer[f"rung.latency_p99_ms.r{rate}"] = pct(rl, 99)
        layer[f"rung.samples.r{rate}"] = len(rl)
        rung_progress = [p for p in progress
                         if r["start"] <= tracing.iso_ms(p["timestamp"]) / 1000.0 < r["end"]]
        if pct(rl, 99) <= LATENCY_LIMIT_MS and not tracing.backlog_grows(rung_progress):
            sustained = rate
    layer["rung.sustained_notif_per_s"] = sustained
    layer["rung.drain_s"] = phase["drained_at"] - phase["sent_end"]
    layer.update({f"spark.{k}": v for k, v in rec["engine"].items()})
    attempted = len(notifs)
    failed = status_bad + lost_final + (1 if rec.get("query_failure") else 0)
    checks = [f"roundtrip: {len(notifs)} notifications, {status_bad} not answered 200, "
              f"{lost_final} entities whose final broker value differs from the last sent, "
              f"{sum(1 for l in lat if l == float('inf'))} ladder notifications never reflected"]
    spans = tracing.load_spans(load, ladder)
    return e2e, layer, attempted, failed, checks, spans


def catalog_dirs(seed):
    main_dir = os.path.join(WORK, "inputs", f"catalog-{seed}")
    warm_dir = os.path.join(WORK, "inputs", "catalog-warm")
    for d, sf, s in ((main_dir, CATALOG_SF, seed), (warm_dir, CATALOG_WARM_SF, 0)):
        if not os.path.exists(os.path.join(d, "_done")):
            shutil.rmtree(d, ignore_errors=True)
            gen.catalog(d, s, sf)
            open(os.path.join(d, "_done"), "w").close()
    return main_dir, warm_dir


def catalog_args(seed):
    main_dir, warm_dir = catalog_dirs(seed)
    return main_dir, ["--dir", main_dir, "--warm-dir", warm_dir, "--models", MODELS,
                      "--queries", ",".join(CATALOG_ORDER)]


def prepare(cp):
    """Once per checkout and program version: populates the benchmark's own
    ModelStore and caches the oracle results over the fixed corpus, so that
    no timed run trains a model or waits for those oracles."""
    h = hashlib.sha256(f"{CATALOG_SF}{CATALOG_WARM_SF}{CATALOG_ORDER}".encode())
    for f in program_files():
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    marker = os.path.join(MODELS, "_prepared-" + h.hexdigest()[:16])
    if os.path.exists(marker):
        return
    main_dir, common = catalog_args(0)
    prime_dir = os.path.join(WORK, "runs", "prepare")
    shutil.rmtree(prime_dir, ignore_errors=True)
    os.makedirs(prime_dir)
    rec = jvm(cp, prime_dir, ["--workload", "catalog_prime", "--trace", "0", "--seconds", 0,
                              "--setups", 0] + common, time.time() + 600)
    import oracle
    oracle.warm(main_dir, rec["oracle_sql"], ORACLE_CACHE)
    open(marker, "w").close()


def catalog(cp, a, run_dir, deadline):
    main_dir, common = catalog_args(a.seed)
    result_dir = os.path.join(run_dir, "results")
    return jvm(cp, run_dir, ["--workload", a.workload, "--trace", a.trace,
                             "--setups", SETUPS[a.workload], "--seconds", a.seconds,
                             "--result-dir", result_dir] + common, deadline), main_dir


def catalog_metrics(rec, main_dir, run_dir):
    import oracle
    qs = rec["queries"]
    times = [q["s"] for q in qs]
    e2e = {
        "setup_s": median([s["total_s"] for s in rec["setups"]]),
        "wall_s": sum(times),
        "latency_p50_ms": pct(times, 50) * 1000.0,
        "latency_p99_ms": pct(times, 99) * 1000.0,
        "rss_peak_mb": rec["rss_peak_mb"],
    }
    layer = {}
    for q in qs:
        eng = q["engine"]
        layer.update({f"operators.{q['name']}.s": q["s"],
                      f"operators.{q['name']}.jobs": eng.get("jobs", 0),
                      f"operators.{q['name']}.tasks": eng.get("tasks", 0),
                      f"operators.{q['name']}.shuffle_write_bytes": eng.get("shuffle_write_bytes", 0),
                      f"operators.{q['name']}.spill_bytes": eng.get("spill_bytes", 0),
                      f"operators.{q['name']}.cpu_s": eng.get("executor_cpu_s", 0)})
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        layer[f"spark.{k}"] = sum(q["engine"].get(k, 0) for q in qs)
    layer.update({f"pinned.{k}": v for k, v in rec["pinned"].items()})
    layer.update({f"modelstore.{k}": v for k, v in rec["modelstore"].items()})
    errors = oracle.compare(os.path.join(run_dir, "results"), main_dir, rec["oracle_sql"],
                            [q["name"] for q in qs], ORACLE_CACHE)
    for q in qs:
        if q["error"]:
            errors[q["name"]] = q["error"]
    checks = [f"catalog: {len(qs) - len(errors)} of {len(qs)} queries match the DuckDB oracle"]
    checks += [f"  {q}: {err}" for q, err in sorted(errors.items())]
    # A query that trained a model inside its timed pass counts as failed:
    # its time includes training, which prepare() should have done.
    retrained = rec["modelstore"]["trains"]
    if retrained:
        checks.append(f"  the timed pass trained {retrained} model(s)")
    return e2e, layer, len(qs) + retrained, len(errors) + retrained, checks


# ---- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    started = time.time()
    deadline = started + RUN_DEADLINE_S
    if BENCH is None or not os.path.isfile(os.path.join(ROOT, "build.sbt")) \
            or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("run from the root of a checkout of the program (build.sbt, src/main/scala/graft)")
    if a.workload not in SETUPS:
        fail(f"unknown workload {a.workload}; one of {sorted(SETUPS)}")
    cp = build()
    prepare(cp)
    deadline = max(deadline, time.time() + RUN_DEADLINE_S)  # the one-time build does not count
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    calib_before = calibrate()
    spans_extra = []
    if a.workload == "orion_roundtrip":
        rec, load = roundtrip(cp, a, run_dir, deadline)
        e2e, layer, attempted, failed, checks, spans_extra = roundtrip_metrics(rec, load)
    else:
        rec, main_dir = catalog(cp, a, run_dir, deadline)
        e2e, layer, attempted, failed, checks = catalog_metrics(rec, main_dir, run_dir)
        shutil.rmtree(main_dir)  # regenerated from the seed in about 2 s
    calib_after = calibrate()
    setups = rec["setups"]
    layer["session.start_s"] = median([s["session_s"] for s in setups])
    layer["session.warmup_s"] = median([s["warmup_s"] for s in setups])

    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    for line in checks:
        log(line)
    log(f"error_ratio = {failed / max(1, attempted):.6f} ratio ({failed} of {attempted})")
    log(f"host drift stamp: calibration kernel {calib_before:.4f} s before, "
        f"{calib_after:.4f} s after")
    for k, v in e2e.items():
        log(f"metric {k} = {v:.6g} {units[k]}")

    artifact = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "end_to_end": e2e, "calibration_s":
                {"before": calib_before, "after": calib_after},
                "attempted": attempted, "failed": failed}
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if a.trace == "1":
        layer.update(tracing.self_times(rec.get("spans", []), rec.get("progress", [])))
        base_file = os.path.join(results, f"{a.workload}-{a.seed}-trace0.json")
        if os.path.exists(base_file):
            base = json.load(open(base_file))["end_to_end"]
            artifact["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
            for k, d in artifact["tracing_overhead"].items():
                log(f"tracing overhead {k} = {d:+.6g} {units[k]} (traced - untraced)")
        else:
            log(f"tracing overhead: run --trace 0 with seed {a.seed} first to compare")
        tracing.write(os.path.join(results, f"{a.workload}-{a.seed}-spans.jsonl"),
                    rec.get("spans", []), rec.get("progress", []), spans_extra)
        names = [m["name"] for m in BENCH["per_layer"]]
        for k in names:
            log(f"layer {k} = {float(layer.get(k, 0.0)):.6g} {units[k]}")
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": units[k]} for k in names}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in BENCH["end_to_end"]}
    artifact["per_layer"] = layer
    with open(os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
