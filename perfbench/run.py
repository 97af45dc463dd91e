#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload <board|keyed_stream>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark from the checkout's sources (sbt, offline); every run then starts
one fresh JVM under a fresh temp root, checks the outputs outside the timed
regions and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) named in BENCHMARK.json. Traced runs also keep the raw span
and listener events and a per-span summary under perfbench/out/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
if not os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft")):
    raise SystemExit("no library sources next to perfbench/ "
                     "(run from the root of a full checkout)")
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("board", "keyed_stream")
SF = 0.1
JVM_TIMEOUT_S = 150
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
# the JDK 17 module opens Spark needs when started outside spark-submit (as
# in the repository's build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: the library's and the
    benchmark's sources and build files."""
    h = hashlib.sha256()
    pats = ["src/main/**/*", "perfbench/src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties"]
    files = sorted({f for p in pats
                    for f in glob.glob(os.path.join(REPO, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return digest
    log("building library and benchmark (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "Compile / compile", "Compile / copyResources"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return digest


def commit_stamp(digest):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or f"src:{digest[:12]}"
    except (OSError, subprocess.SubprocessError):
        return f"src:{digest[:12]}"


def run_jvm(args, root, data):
    cp = CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn1g",
            "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in
              ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", root, "--data", data])
    env = dict(os.environ, GRAFT_ARTIFACTS_DIR=os.path.join(root, "artifacts"),
               SPARK_LOCAL_DIRS=tmp, TMPDIR=tmp)
    with open(os.path.join(root, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(root, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(os.path.join(root, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("SPARK_HOME must point at a Spark 4 distribution")
    loadavg_entry = os.getloadavg()[0]
    digest = build()
    work = os.path.join(HERE, ".work")
    root = os.path.join(work, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        data = os.path.join(root, "data")
        g0 = time.time()
        if args.workload == "board":
            gen.write_tables(args.seed, SF, data)
        else:
            os.makedirs(data)
        gen_s = time.time() - g0
        rec = run_jvm(args, root, data)
        jvm_s = time.time() - g0 - gen_s
        rec.update(commit=commit_stamp(digest), loadavg_entry=loadavg_entry)
        verdict = checks.check(args.workload, rec, data)
        e2e = analysis.end_to_end(args.workload, rec)
        stamp = {k: rec.get(k) for k in ("workload", "seed", "commit", "nproc",
                                         "loadavg_entry", "loadavg_end")}
        stamp.update(input_gen_s=gen_s, jvm_s=jvm_s,
                     check_s=time.time() - g0 - gen_s - jvm_s,
                     op_samples={k: len(v) for k, v in
                                 analysis.op_samples(args.workload, rec).items()})
        print("record " + json.dumps(dict(stamp, checks=verdict["detail"],
                                          end_to_end=e2e)))
        if args.trace:
            events = analysis.load_events(os.path.join(root, "trace.jsonl"))
            layers, summary = analysis.per_layer(args.workload, rec, events)
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            name = f"trace-{args.workload}-{args.seed}.json"
            with open(os.path.join(out, name), "w") as f:
                json.dump(dict(stamp, end_to_end=e2e, per_layer=layers,
                               summary=summary), f, indent=1, sort_keys=True)
            metrics = layers
        else:
            metrics = e2e
        units = analysis.units()
        print(json.dumps({
            "correct": verdict["correct"],
            "attempted": verdict["attempted"],
            "failed": verdict["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
