#!/usr/bin/env python3
"""The repository benchmark: one command, one workload, one JSON line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <flow|ask> \
        --seed <n> --seconds <s> --trace <0|1>

It builds the library and the harness from source (sbt, offline; cached
under the build directory and redone when any source changes), generates
the workload's tables (the shape of the repository's sf0.1 fixture, from
its seed; cached the same way), runs the harness in one JVM with the
seed choosing the `ask` query sample, checks the outputs and prints as
its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The full record of the run (raw samples,
spans, session hygiene, box yardstick, check failures) is written to
<build dir>/artifacts/<workload>-seed<n>-trace<t>.json.

The build directory is $CARGO_TARGET_DIR if set, else .bench_build.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import gen  # noqa: E402

# Each workload's tables, generated from the sf0.1 fixture's seed; the
# harness checks outputs pinned on them. `ask` (and the catalog queries of
# its traced run) read the sf0.1 fixture's sizes (TESTDATA.md). `flow`
# reads 2,000 documents: at 5,000 one pass takes 7-15 s, so a run could
# time only one pass, and a single pass varies too much (README.md).
TABLES = {
    "ask": dict(docs=5000, vecs=2000, evts=100000, users=1500),
    "flow": dict(docs=2000, vecs=0, evts=0, users=0),
}
CORPUS_SEED = 42
# The harness's run, build excluded, may take --seconds plus this
# allowance before it is stopped: set-up and the traced runs' extra work
# measured 45-90 s on 4 cores.
ALLOWANCE_S = 150

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_stamp(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile library and harness; return the runtime classpath."""
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    log("building library and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def generate(out, tables, seed):
    """Generate the tables once per checkout; return their directory."""
    with open(gen.__file__, "rb") as fh:
        key = hashlib.sha256(fh.read() + repr((tables, seed)).encode()).hexdigest()[:16]
    data = os.path.join(out, f"data-{key}")
    gen.generate(data, seed, **tables)
    return data


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, deadline):
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={args['work']}/tmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{args['work']}/tmp", exist_ok=True)
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("harness did not finish in time")
    finally:
        if p.poll() is None:  # timed out, or this process is being stopped
            p.kill()
            p.wait()
    if rc != 0:
        fail(f"harness exited with code {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["flow", "ask"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind so the harness JVM is stopped and the run's
    # scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the repository")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)

    t_start = time.time()
    data = generate(out, TABLES[a.workload], CORPUS_SEED)
    work = os.path.join(out, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res_file = os.path.join(work, "result.json")
        run_jvm(cp, {"workload": a.workload, "data": data, "work": work, "out": res_file,
                     "seconds": a.seconds, "trace": a.trace, "seed": a.seed,
                     "cores": cores()},
                t_start + ALLOWANCE_S + a.seconds)
        with open(res_file) as fh:
            res = json.load(fh)
        art_dir = os.path.join(out, "artifacts")
        os.makedirs(art_dir, exist_ok=True)
        with open(os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    got = res["metrics"]
    # a per-layer metric the workload does not exercise reads 0
    metrics = {m["name"]: {"value": got.get(m["name"], {}).get("value", 0.0), "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
