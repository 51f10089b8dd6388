#!/usr/bin/env python3
"""Runs one benchmark workload against the engine, built from source.

    python3 perfbench/run.py --workload qa_online --seed 1 --seconds 25 --trace 0

Run it from the repository root. The first run builds the engine and the
benchmark driver with sbt and records a class-data sharing archive in
`.bench_build/perfbench/`. Each run then generates
TPC-H-shaped tables and questions from the seed, runs the workload in one
JVM, checks every output, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer span metrics; a traced run
also keeps its raw spans in `.bench_build/perfbench/traces/`. The exit code
is non-zero when a check fails. See perfbench/README.md.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import questions as qgen  # noqa: E402

# Both workloads run on sf0.01. Each hands the JVM this many questions,
# cycling through these templates. The batch leaves out the two templates
# anchored on a Part name: a name anchors ~1/64 of all Parts, and their
# 2-hop fan-out through suppliers alone would outlast the run's time budget.
SF = 0.01
WORKLOADS = {
    "qa_online": {"questions": 40, "templates": qgen.TEMPLATES},
    "offline_batch": {"questions": 30,
                      "templates": ["order_parts", "customer_orders", "nation_customers"]},
}
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint(paths):
    h = hashlib.sha1()
    for d in paths:
        if os.path.isfile(d):
            st = os.stat(d)
            h.update(f"{d}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        for root, _, files in sorted(os.walk(d)):
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, d)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(repo, out):
    """Compiles the engine's sources and the driver into a jar, then records
    the classes one training run loads into a class-data sharing archive.
    Returns the classpath and the JVM flags that use the archive."""
    engine_src = os.path.join(repo, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise SystemExit(f"perfbench: engine sources not found at {engine_src}")
    stamp, cp_file = os.path.join(out, "build.stamp"), os.path.join(out, "classpath.txt")
    archive = os.path.join(out, "classes.jsa")
    use_archive = [f"-XX:SharedArchiveFile={archive}"]
    fp = fingerprint([engine_src, os.path.join(HERE, "src")]) + fingerprint(
        [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    if os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip(), use_archive
    log("building the engine and the driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx3g")
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Compile/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=600)
    with open(os.path.join(out, "build.log"), "w") as f:
        f.write(res.stdout)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1]
    with open(cp_file, "w") as f:
        f.write(classpath)
    log(f"compiled in {time.time() - t0:.0f} s; recording the class-data sharing archive")
    # Spark's cold start is mostly class loading; every run maps the
    # archive instead of loading and verifying those classes again
    if os.path.exists(archive):
        os.remove(archive)
    run_once(classpath, [f"-XX:ArchiveClassesAtExit={archive}"], out,
             "qa_online", seed=0, seconds=0, trace=0, questions=1)
    if not os.path.exists(archive):
        raise SystemExit("perfbench: the class-data sharing archive was not written")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(fp)
    return classpath, use_archive


def run_jvm(classpath, flags, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"] + flags
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: the JVM run ended with {code}")


def run_once(classpath, flags, out, workload, seed, seconds, trace, questions=None):
    """Generates the inputs, runs the workload in one JVM and checks its
    outputs. Returns the run record, the questions and the problems found.
    `questions` overrides the workload's question count."""
    spec = WORKLOADS[workload]
    run_dir = os.path.join(out, f"run-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    try:
        t0 = time.time()
        datagen.write(datagen.generate(SF, seed), data_dir)
        qs = qgen.generate(qgen.load_tables(data_dir), questions or spec["questions"],
                           seed, spec["templates"])
        q_file, rec_file = os.path.join(run_dir, "questions.json"), os.path.join(run_dir, "run.json")
        with open(q_file, "w") as f:
            json.dump(qs, f)
        t1 = time.time()
        run_jvm(classpath, flags, run_dir, [
            "--workload", workload, "--data", data_dir, "--questions", q_file,
            "--seconds", str(seconds), "--trace", str(trace),
            "--scratch", os.path.join(run_dir, "spark"), "--out", rec_file])
        with open(rec_file) as f:
            record = json.load(f)
        t2 = time.time()
        problems = checks.check(record, qs, data_dir)
        log(f"inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, checks {time.time() - t2:.1f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return record, qs, problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    out = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench")
    os.makedirs(out, exist_ok=True)
    classpath, flags = build(os.path.dirname(HERE), out)
    record, qs, problems = run_once(classpath, flags, out, a.workload, a.seed,
                                    a.seconds, a.trace)

    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    ops = checks.operations(record)
    attempted, failed = len(ops), sum(1 for r in ops if not r["ok"])
    for r in ops + record.get("warmup", []):
        if not r["ok"]:
            log(f"request failed: {r.get('name', r.get('id'))}: {r['error'][:300]}")
    e2e = checks.end_to_end(record, qs)
    log(f"session {record['session_ms']:.0f} ms, LOAD {record['load_ms']:.0f} ms, "
        f"warm-up {[round(r.get('ms', -1)) for r in record.get('warmup', [])]} ms, "
        f"requests {[round(r.get('ms', -1)) for r in record['requests']]} ms")
    log("end-to-end " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))
    if a.trace:
        layers = checks.per_layer(record, qs)
        trace_dir = os.path.join(out, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"end_to_end": e2e, "per_layer": layers, "spans": record["spans"]}, f)
        metrics = {k: {"value": v, "unit": checks.unit_of(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": checks.unit_of(k)} for k, v in e2e.items()}
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
