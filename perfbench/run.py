#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload query_mix --seed 7 --seconds 15 --trace 0

From the root of a checkout: builds the program and the harness from
source on first use (sbt, offline), generates the inputs from the seed,
runs the workload in one local[4] Spark JVM, checks every output against
DuckDB / numpy references, and prints one JSON object as the last line
of stdout. Exits 1 if any output check fails, 2 if the program sources are
missing, 3 if the build fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
CORES = 4
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

sys.path.insert(0, HERE)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile program + harness unless the classpath is newer than every source."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return True
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if not os.path.isdir(os.path.join(env.get("SPARK_HOME", ""), "jars")):
        log("SPARK_HOME must point at a Spark installation (build.sbt takes its jars)")
        return False
    opts = env.get("SBT_OPTS", "").split()
    repos = os.path.expanduser("~/.sbt/repositories")
    if not any(o.startswith("-Dsbt.repository.config") for o in opts) and os.path.exists(repos):
        # resolve sbt itself and the build from the local caches only
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    opts += [
        f"-Dsbt.global.base={os.path.join(WORK, 'sbt-global')}",
        "-Dsbt.server.forcestart=false", "-Dsbt.offline=true", "-Xmx2g"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    return r.returncode == 0 and os.path.exists(CLASSPATH)


def main():
    # a termination signal unwinds like an error: the JVM child is killed
    # and waited for, and the run's scratch is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("program sources (src/main/scala/graft) not found next to the benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    # mining_batch is not a gated workload (every traced run probes it),
    # but it stays runnable on its own
    if a.workload not in {w["name"] for w in bench["workloads"]} | {"mining_batch"}:
        log(f"unknown workload {a.workload}")
        return 2
    if not build():
        log("build failed")
        return 3
    start = time.time()

    import gen
    import oracle

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        inp = os.path.join(run_dir, "input")
        work = os.path.join(run_dir, "work")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(work)
        os.makedirs(tmp)
        # traced runs also run one mining_batch round
        plan = gen.generate(inp, a.seed, mining=bool(a.trace) or a.workload == "mining_batch")
        log(f"inputs generated in {time.time() - start:.1f} s")
        out = os.path.join(run_dir, "result.json")
        with open(CLASSPATH) as fh:
            cp = fh.read().strip()
        cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS,
               f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
               "-cp", cp, "perfbench.Main", a.workload, str(a.seconds), str(a.trace),
               inp, work, out, str(CORES)]
        t_jvm = time.time()
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
        log(f"benchmark JVM ran {time.time() - t_jvm:.1f} s")
        if r.returncode != 0 or not os.path.exists(out):
            log(f"benchmark JVM exited with {r.returncode}")
            return 1
        with open(out) as fh:
            res = json.load(fh)
        if a.trace:
            keep = os.path.join(WORK, "traces")
            os.makedirs(keep, exist_ok=True)
            shutil.copy(out + ".spans.jsonl", os.path.join(keep, f"{a.workload}-{a.seed}.spans.jsonl"))

        fails = [f"{c['name']}: {c['detail']}" for c in res["checks"] if not c["ok"]]
        keyed = oracle.check_digests(inp, plan, res["digests"])
        mfails, extra = oracle.check_mining(inp, plan, res["dumps"])
        ifails, iextra = oracle.check_ingest(inp, res["ingest_rounds"], res["recode_arms"], res["digests"])
        fails += mfails + ifails
        for f in fails + [msg for _, msg in keyed]:
            log(f"CHECK FAILED {f}")
        # a wrong answer counts every timed op it covers as failed
        failed = min(res["attempted"], res["failed"] + len(fails) +
                     sum(res["key_ops"].get(k, 1) for k, _ in keyed))
        layer = dict(res["layer"], **extra, **iextra)
        layer["ops_failed_frac"] = failed / res["attempted"]
        e2e = res["end_to_end"]
        if a.trace:
            specs, values = bench["per_layer"], layer
        else:
            specs, values = bench["end_to_end"], {k: v["value"] for k, v in e2e.items()}
        metrics, missing = {}, []
        for s in specs:
            v = values.get(s["name"])
            if v is None:
                missing.append(s["name"])
            else:
                metrics[s["name"]] = {"value": v, "unit": s["unit"]}
        if missing:
            log(f"metrics not produced: {', '.join(missing)}")
            return 1
        for k, v in e2e.items():
            log(f"{a.workload} {k} = {v['value']:.4f} over {v['samples']} samples")
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
