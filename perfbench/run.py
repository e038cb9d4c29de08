#!/usr/bin/env python3
"""Runs one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload short_ops --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The steps:

1. build the program and the harness (perfbench/build.sbt) with sbt,
   offline, once per checkout (reused while the sources are unchanged),
   and record the class-data-sharing archive every later JVM maps;
2. generate the seeded input tables (gen.py) into .bench_build/;
3. with --trace 0, start SETUP_SAMPLES - 1 JVMs that only set up, for
   set-up samples from JVM start;
4. start one JVM (perfbench.Main) that sets up the session, runs two
   warm-up passes (the first also writes the query results), then timed
   passes for --seconds (two at least);
5. check the outputs (check.py) and print the metrics, the last line
   being one JSON object: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run. Every run leaves a record (result,
trace spans, layer summary, load and steal before and after) under
.bench_build/runs/. Exits non-zero on any failed op or check.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = os.path.join(HERE, "workloads.json")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
CORES = 4
# set-ups per --trace 0 run, each in a fresh JVM; setup_s is their median
SETUP_SAMPLES = 3
RUN_LIMIT_S = 160
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g",
}
# Spark 4 on JDK 17 outside spark-submit (as the project's build.sbt sets
# for its own forked runs), plus the deep-plan stack the example jobs need.
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every build input, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, names in os.walk(base):
            if "target" in os.path.relpath(d, HERE).split(os.sep):
                continue
            files += [os.path.join(d, n) for n in names]
    files.append(os.path.join(HERE, "build.sbt"))
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt (offline), then records a class-data-sharing
    archive of the classes one set-up loads. Every measured JVM maps it
    (-Xshare:on), so base and changed code start under the same
    conditions, and a JVM start costs seconds rather than the tens of
    seconds loading and verifying 20k classes from jars takes on a
    4-core host. Returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = sources_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log("building program + harness with sbt (first run in this checkout)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, **SBT_ENV)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=700)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("sbt build failed")
    classpath = p.stdout.strip().splitlines()[-1].strip()
    log(f"compiled in {time.time() - t0:.0f} s")
    t0 = time.time()
    train = os.path.join(BUILD, "cds-training")
    shutil.rmtree(train, ignore_errors=True)
    gen.write(0, os.path.join(train, "data"))
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    rc = run_jvm(classpath, ["--workloads", WORKLOADS, "--workload", "short_ops",
                             "--data", os.path.join(train, "data"),
                             "--out", os.path.join(train, "out"), "--seconds", "0",
                             "--trace", "0", "--cores", str(CORES)],
                 train, 300, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    if rc != 0 or not os.path.exists(CDS_ARCHIVE):
        with open(os.path.join(train, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"class-data-sharing archive run failed ({rc})")
    shutil.rmtree(train, ignore_errors=True)
    log(f"class-data-sharing archive in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def load_evidence():
    """(1-min load average, cumulative steal jiffies) of the machine."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8])
    return {"load1": load1, "steal": steal, "time": time.time()}


def run_jvm(classpath, args, run_dir, timeout, cds=None):
    """Runs perfbench.Main with its output in <run_dir>/jvm.log; returns
    the exit code. The JVM must map the class-data-sharing archive
    (-Xshare:on): it exits with an error rather than start without it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cds = cds or [f"-XX:SharedArchiveFile={CDS_ARCHIVE}", "-Xshare:on"]
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:+UseParallelGC"] + cds + [
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"harness did not finish within {timeout:.0f} s")


def median(xs):
    return statistics.median(xs)


def end_to_end(res, setups):
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    per_op = {}
    for p in timed:
        for o in p["ops"]:
            per_op.setdefault(o["name"], []).append(o["wall_s"])
    geo = math.exp(statistics.fmean(math.log(median(v)) for v in per_op.values()))
    return {"wall_s": median([p["wall_s"] for p in timed]),
            "geomean_op_s": geo,
            "cpu_s": median([p["cpu_s"] for p in timed]),
            "setup_s": median(setups)}


# Counters that must read the same in every traced pass of a run.
EXACT = ["core.jobs", "core.stages", "core.tasks", "queries.build_jobs",
         "exchange.write_mb", "sources.read_mb", "sources.read_records",
         "cache.blocks_put"]


def per_layer(res):
    layers = res["layers"]
    out = {k: median([l[k] for l in layers]) for k in sorted(layers[0])}
    out["trace.overhead_s"] = res["trace_overhead_s"]
    return out


def contended(before, after):
    """The repo's contention rule (graft.Bench): steal above 2% of the
    run's CPU-seconds budget (wall x cores, USER_HZ = 100)."""
    wall = after["time"] - before["time"]
    return (after["steal"] - before["steal"]) / 100.0 > 0.02 * wall * CORES


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(WORKLOADS) as f:
        if a.workload not in json.load(f)["workloads"]:
            raise SystemExit(f"unknown workload {a.workload}")
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise SystemExit("no program sources (src/main/scala) next to perfbench/")

    classpath = build()
    t_start = time.time()
    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t_start)}")
    data = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = load_evidence()
    sizes = gen.write(a.seed, data)
    gen_s = time.time() - t_start

    def harness(jvm_dir, seconds, trace):
        """One perfbench.Main JVM in jvm_dir; returns its result.json."""
        out = os.path.join(jvm_dir, "out")
        rc = run_jvm(classpath, ["--workloads", WORKLOADS, "--workload", a.workload,
                                 "--data", data, "--out", out, "--seconds", str(seconds),
                                 "--trace", str(trace), "--cores", str(CORES)],
                     jvm_dir, RUN_LIMIT_S - (time.time() - t_start))
        result_file = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_file):
            with open(os.path.join(jvm_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-3000:])
            raise SystemExit(f"harness exited with {rc}")
        with open(result_file) as f:
            return json.load(f)

    setups = []
    if a.trace == 0:
        for i in range(SETUP_SAMPLES - 1):
            setup_dir = os.path.join(run_dir, f"setup{i}")
            setups.append(harness(setup_dir, 0, 0)["setup_s"])
            shutil.rmtree(setup_dir, ignore_errors=True)
    res = harness(run_dir, a.seconds, a.trace)
    setups.append(res["setup_s"])
    out = os.path.join(run_dir, "out")

    import check
    checks = check.check_all(res, data)
    after = load_evidence()

    runs = [o for p in res["passes"] for o in p["ops"]]
    errors = [f"{o['name']}: {o['error']}" for o in runs if o["error"]]
    bad_checks = {k: v for k, v in checks.items() if not v.startswith("OK")}
    attempted = len(runs)
    failed = len(errors) + len(bad_checks)
    metrics = end_to_end(res, setups) if a.trace == 0 else per_layer(res)
    declared = bench["end_to_end" if a.trace == 0 else "per_layer"]
    units = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(units):
        raise SystemExit(f"metrics {sorted(metrics)} differ from BENCHMARK.json")
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "table_sizes": sizes, "gen_s": gen_s,
        "load_before": before, "load_after": after,
        "steal_delta": after["steal"] - before["steal"],
        "contended": contended(before, after),
        "checks": checks, "errors": errors, "metrics": metrics,
        "failed_frac": failed / attempted, "setup_samples": setups,
        "cds": {"archive": os.path.relpath(CDS_ARCHIVE, ROOT),
                "bytes": os.path.getsize(CDS_ARCHIVE), "mode": "-Xshare:on"},
        "passes": [{k: p[k] for k in ("kind", "wall_s", "cpu_s")}
                   for p in res["passes"]],
    }
    if a.trace:
        record["counters_moved"] = [
            k for k in EXACT if len({l[k] for l in res["layers"]}) > 1]
        record["op_profile"] = res["op_profile"]
        wall = median([p["wall_s"] for p in res["passes"] if p["kind"] == "traced"])
        record["shares"] = {f"{k}/wall": metrics[k] / wall for k in (
            "queries.build_s", "core.driver_idle_s", "exec.task_s", "self.op_s")}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(data, ignore_errors=True)
    for d in os.listdir(out):
        if os.path.isdir(os.path.join(out, d)):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)

    print("tables: " + ", ".join(f"{t} {r} rows/{b} B" for t, (r, b) in sizes.items()))
    print(f"load1 {before['load1']} -> {after['load1']}, "
          f"steal_delta {record['steal_delta']} jiffies, "
          f"contended {record['contended']}")
    if a.trace:
        print(f"traced passes {len(res['layers'])}, counters that moved "
              f"between them: {record['counters_moved'] or 'none'}")
        print("self time by span kind (s): " + ", ".join(
            f"{k[5:-2]} {metrics[k]:.3f}" for k in sorted(metrics)
            if k.startswith("self.")))
        print("share of traced pass wall: " + ", ".join(
            f"{k} {v:.3f}" for k, v in record["shares"].items()))
        for name, prof in res["op_profile"].items():
            print(f"op {name}: " + ", ".join(f"{k} {v:.4g}" for k, v in prof.items()))
    for name, status in sorted(checks.items()):
        print(f"check {name}: {status}")
    for e in errors:
        print(f"error {e}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_frac {failed / attempted:.6g} ({failed}/{attempted} ops)")
    print(f"record {os.path.relpath(run_dir, ROOT)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
