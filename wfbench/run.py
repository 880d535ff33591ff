#!/usr/bin/env python3
"""Benchmark launcher: builds the program from this checkout, runs one
workload in a pinned JVM and prints one JSON result line.

    python3 wfbench/run.py --workload chain_sparse --seed 1 --seconds 15 --trace 0
    python3 wfbench/run.py --workload chain_dense --report 5

Run it from the repository root. `--report N` runs the workload N
times (seeds 1..N) plus one traced run and prints each metric's median,
quartiles and spread against its bound, and the tracing overhead.
Workloads, metrics and the layer each one should move are in
wfbench/README.md.
"""
import argparse
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
import benchlib  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp")
DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout may take 900 s
HEAP = "3g"

# Measurement knobs of the program's own bench mains: a run with any of
# them set would not measure the code as shipped.
REFUSED_ENV = ["SPARK_GRAFT_BENCH_ONLY", "SPARK_GRAFT_BPE_ROUNDS",
               "SPARK_GRAFT_LPA_ROUNDS", "SPARK_GRAFT_ROUND_GC",
               "SPARK_GRAFT_RDD_COMPRESS"]

# Spark 4 on JDK 17 needs these outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"wfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile the program and the benchmark with sbt, once per source
    state; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, "
             "src/main/scala); run from a full checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                with open(CLASSPATH) as cp:
                    return cp.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-2000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(cp)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return cp


def launch(classpath, workload, inputs, seconds, trace, deadline):
    """Run the workload in a fresh JVM; returns its raw result."""
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs_path = os.path.join(work, "inputs.json")
    out_path = os.path.join(work, "result.json")
    with open(inputs_path, "w") as fh:
        json.dump(inputs, fh)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graftbench.Main", workload, inputs_path,
            out_path, str(trace), str(seconds), work])
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    def terminated(*_):
        stop()
        fail("terminated", 143)

    signal.signal(signal.SIGTERM, terminated)
    signal.signal(signal.SIGINT, terminated)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop()
        fail(f"{workload} did not finish in time")
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.default_int_handler)
    try:
        if code != 0 or not os.path.exists(out_path):
            fail(f"{workload} exited with code {code}")
        with open(out_path) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(workload, raw):
    lat = raw["samples"][benchlib.LATENCY_SAMPLES[workload]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "latency_p50_ms": (benchlib.percentile(lat, 50), "ms"),
        "latency_p75_ms": (benchlib.percentile(
            lat, benchlib.TAIL_PERCENTILE), "ms"),
        "throughput_per_s": (raw["values"]["tasks_per_s"], "1/s"),
        "heap_after_gc_mb": (raw["values"]["heap_after_gc_mb"], "MB"),
    }


def per_layer(raw):
    """The traced run's layer numbers, every metric BENCHMARK.json names
    (0 where the workload does not exercise that layer)."""
    units = {m["name"]: m["unit"] for m in load_spec()["per_layer"]}
    layers = raw["layers"]
    missing = [n for n in layers if n not in units]
    if missing:
        fail(f"layer metrics missing from BENCHMARK.json: {missing}")
    return {n: (layers.get(n, 0.0), u) for n, u in units.items()}


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def environment():
    load = os.getloadavg()[0]
    return {"nproc": os.cpu_count(), "loadavg_1m": load}


def run_once(workload, seed, seconds, trace, classpath=None):
    """One measured run; returns (result line dict, raw, env)."""
    deadline = time.time() + DEADLINE_S
    classpath = classpath or build()
    env = environment()
    inputs = benchlib.make_inputs(workload, seed, seconds)
    raw = launch(classpath, workload, inputs, seconds, trace, deadline)
    env["loadavg_1m_end"] = os.getloadavg()[0]
    env["jvm"] = raw["jvm"]
    metrics = per_layer(raw) if trace else end_to_end(workload, raw)
    line = {
        "correct": raw["failed"] == 0,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return line, raw, env


def report(workload, n, seconds):
    """Steadiness report: n untraced runs and one traced run."""
    classpath = build()
    spec = {m["name"]: m for m in load_spec()["end_to_end"]}
    values, traced_e2e = {}, None
    for seed in range(1, n + 1):
        line, raw, env = run_once(workload, seed, seconds, 0, classpath)
        print(json.dumps({"seed": seed, "env": env, **line}), flush=True)
        if raw["errors"]:
            print(f"  errors: {raw['errors']}", flush=True)
        for k, m in line["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    line, raw, env = run_once(workload, 1, seconds, 1, classpath)
    traced_e2e = {k: v for k, (v, _) in end_to_end(workload, raw).items()}
    print(json.dumps({"traced": True, "env": env, **line}), flush=True)
    print(f"\n{workload}: {n} runs")
    print(f"{'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}  {'traced':>10}{'overhead':>9}")
    for k, vs in values.items():
        med, q1, q3, sp = benchlib.spread(vs) if len(vs) > 1 else (
            vs[0], vs[0], vs[0], 0.0)
        bound = spec[k]["bound"]
        flag = "  WIDE" if sp > bound and k != "setup_s" else ""
        tv = traced_e2e[k]
        print(f"{k:<20}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}"
              f"{bound:>7.2f}  {tv:>10.4g}{tv / med - 1:>+9.1%}{flag}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", type=int, metavar="N",
                    help="steadiness report over N seeds")
    args = ap.parse_args()
    refused = [k for k in REFUSED_ENV if k in os.environ]
    if refused:
        fail(f"refusing to run with {', '.join(refused)} set", 2)
    if args.report:
        report(args.workload, args.report, args.seconds)
        return
    line, raw, env = run_once(args.workload, args.seed, args.seconds,
                              args.trace)
    if raw["errors"]:
        print(json.dumps({"errors": raw["errors"]}))
    print(json.dumps({"env": env}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
