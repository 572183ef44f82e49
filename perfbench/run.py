#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (sbt, offline) when the
sources changed, generates the seeded inputs (perfbench/gen.py, cached
under .bench_build/inputs), runs one JVM (perfbench.Main), checks the
outputs against the program's DuckDB SQL twins, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. Progress and a detail record go to stderr and .bench_build/results.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

# JVM module opens Spark needs on JDK 17 outside spark-submit (the root
# build.sbt passes the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness when the sources changed; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: program sources (src/main/scala/graft) not found; "
                 "run from the repository root")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "target", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
        "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                  cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if r != 0:
        sys.exit(f"perfbench: build failed (exit {r})")
    with open(cp_file) as f:
        cp = f.read()
    # one archive-dumping run: later JVMs map the loaded classes from it,
    # which takes seconds off every run's set-up
    log("dumping the class-data-sharing archive")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    harness(cp, "er_dirty_skewed", inputs("er_dirty_skewed", 0), 1, 0,
            [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"], ["--min-ops", "1"])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def harness(cp, workload, inp, seconds, trace, jvm_flags, args=()):
    """Run perfbench.Main once and check its outputs; returns (result,
    failed checks)."""
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    local = os.path.join(work, "local")
    os.makedirs(local)
    cores = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_CPUS=cores, SPARK_LOCAL_DIRS=local)
    # C1 only: a run lives about a minute, and C2 keeps recompiling Spark's
    # driver code for minutes, so under tiered compilation every timed
    # operation sits on a warm-up slope whose position follows the host's
    # load; C1 compiles quickly and the slope is much flatter.
    # Without tiers the JVM reserves 48 MB for compiled code, which
    # er_dirty_skewed fills in its second operation (compilation then stops);
    # 240 MB is the tiered default
    jvm = ["java", f"-Xmx{heap()}", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={local}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += jvm_flags + ["-cp", cp, "perfbench.Main", "--workload", workload,
                        "--input", inp, "--work", work, "--seconds", str(seconds),
                        "--trace", str(trace), *args]
    try:
        t0 = time.time()
        r = run_group(jvm, timeout=JVM_TIMEOUT_S, env=env, stdout=sys.stderr)
        log(f"harness JVM ran {time.time() - t0:.1f}s")
        if r != 0:
            sys.exit(f"perfbench: harness failed (exit {r})")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        t0 = time.time()
        try:
            failures = checks.run(workload, inp, os.path.join(work, "out"), res)
        except Exception as e:  # a check that cannot run is a failed check
            failures = [f"checks: {type(e).__name__}: {e}"]
        log(f"output checks: {len(failures)} failed in {time.time() - t0:.1f}s")
        for msg in failures:
            log(f"CHECK FAILED {msg}")
        return res, failures
    finally:
        shutil.rmtree(work, ignore_errors=True)


def inputs(workload, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{gen_hash}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def heap():
    """JVM heap from MemTotal, as the repository's tier-1 run sizes it:
    half the memory, clamped to [2, 8] GB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def tail(samples):
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it; the slowest sample when there are ten or fewer."""
    s = sorted(samples)
    k = max(len(s) - 11, 0) if len(s) > 10 else len(s) - 1
    return s[k], 100.0 * (k + 1) / len(s)


def end_to_end(res):
    ops = res["op_s"]
    tail_s, tail_pct = tail(ops)
    res["batch_tail_pct"] = tail_pct
    return {
        "setup_s": res["setup_s"],
        "run_s": statistics.median(ops),
        "batch_p50_s": statistics.median(ops),
        "batch_tail_s": tail_s,
        "profiles_per_s": res["records_per_op"] * len(ops) / sum(ops),
        "pc": res["pc"],
        "pq": res["pq"],
        "dedup_recall": res["dedup_recall"],
        "scratch_mb": statistics.median(res["scratch_bytes"]) / 1048576.0,
    }


def main():
    # a terminated benchmark still kills and waits for its JVM (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cp = build()
    t0 = time.time()
    inp = inputs(a.workload, a.seed)
    log(f"inputs ready in {time.time() - t0:.1f}s: {inp}")
    res, check_failures = harness(cp, a.workload, inp, a.seconds, a.trace,
                                  [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"])
    failed = res["failed"] + len(check_failures)
    e2e = end_to_end(res)
    if a.trace:
        layer = dict(res.get("per_layer", {}), **res.get("ratios", {}))
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    res.update(seed=a.seed, trace=a.trace, end_to_end=e2e, check_failures=check_failures)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    for k, v in sorted(metrics.items()):
        log(f"{k:42s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": min(failed, res["attempted"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
