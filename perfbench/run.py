#!/usr/bin/env python3
"""graft's benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload ann_lifecycle --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine's
sources together with the benchmark harness (perfbench/build.sbt) and
caches the result under perfbench/.work, keyed by a digest of every
source file; later runs start the JVM directly. The last line of stdout
is the run's result as one JSON object; the full run record (every rep
with its box load and GC time, failures with their reasons, artifacts
built inside timed operations, spans) is written to
perfbench/.work/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
WORKLOADS = ("ann_lifecycle", "curate_pipeline")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the engine's own
# build passes the same list to its forked JVMs).
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


def digest_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(d, suffixes=None):
    out = []
    for dp, dns, fns in os.walk(d):
        dns[:] = [x for x in dns if x not in ("target", ".work", "project")]
        out += [os.path.join(dp, f) for f in fns if suffixes is None or f.endswith(suffixes)]
    return out


def source_digest():
    srcs = files_under(os.path.join(ROOT, "src", "main"))
    srcs += files_under(os.path.join(HERE, "src"))
    srcs += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return digest_files(srcs)


def build():
    """Compile (or reuse) the engine + harness; returns (classpath, class digest)."""
    stamp_path = os.path.join(WORK, "build.json")
    want = source_digest()
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp.get("sources") == want:
            return stamp["classpath"], stamp["classes"]
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-6000:])
        raise SystemExit("build failed")
    cp = [ln.strip() for ln in proc.stdout.splitlines()
          if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cp:
        raise SystemExit("build produced no classpath")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = {"sources": want, "classpath": cp[-1],
             "classes": digest_files(files_under(classes, (".class",)))[:16]}
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    return stamp["classpath"], stamp["classes"]


def validate(res, traced):
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(res) != keys:
        raise SystemExit(f"result keys {sorted(res)} != {sorted(keys)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    missing = [k for k in want if k not in got]
    if missing:
        raise SystemExit(f"metrics missing from the run: {missing}")
    res["metrics"] = {k: res["metrics"][k] for k in want}
    for k, u in want.items():
        if got[k] != u:
            raise SystemExit(f"metric {k}: unit {got[k]} != {u}")
        v = res["metrics"][k]["value"]
        if not isinstance(v, (int, float)):
            raise SystemExit(f"metric {k} has no value")
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found under {ROOT}; run from a graft checkout")

    classpath, classes = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    # the artifact store is keyed by the compiled classes, so two builds
    # of different code never read each other's artifacts; every run
    # starts from an empty store of its own
    store = os.path.join(WORK, "store", classes, f"{a.workload}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    for d in (store, run_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    result_path = os.path.join(run_dir, "result.json")
    record_path = os.path.join(WORK, "records", f"{tag}.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=store, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_HOME", None)
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
              f"-Dderby.system.home={tmp}",
              "-cp", classpath, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir,
              "--result", result_path, "--record", record_path])
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                              stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
        rc = proc.returncode
    except subprocess.TimeoutExpired:
        rc = -1
        log(f"run exceeded {RUN_TIMEOUT_S}s and was stopped")
    log(f"{tag}: jvm exited {rc} after {time.time() - t0:.1f}s; record {record_path}")
    try:
        if rc != 0 or not os.path.exists(result_path):
            raise SystemExit(f"benchmark run failed (exit {rc})")
        with open(record_path) as f:
            rec = json.load(f)
        log("facts " + json.dumps(rec["facts"]))
        for name, c in rec["checks"].items():
            log(f"check {name}: {'ok' if c['ok'] else 'FAILED'} {json.dumps(c['detail'])}")
        for f in rec["failures"]:
            log(f"failure {f['op']}: {f['class']}: {f['message'][:300]}")
        if rec["builds_in_timed"]:
            log("builds in timed ops " + json.dumps(rec["builds_in_timed"]))
        with open(result_path) as f:
            res = validate(json.load(f), a.trace == 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)
        for d in (os.path.dirname(store), os.path.join(WORK, "store")):
            try:
                os.rmdir(d)
            except OSError:
                pass
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
