"""Benchmark driver: build the engine and the harness, generate seeded
inputs, run one workload in a JVM, check its outputs and print its metrics.

    python3 perfbench/run.py --workload ann_pipeline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0   # every workload

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Every run also writes its full record (both kinds of metrics, the extras
and the checks) to perfbench/out/<workload>/ for compare.py. The exit code
is 0 only when every check passed.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# Sizes per workload. `spread` sets cluster overlap, `ef` / `nprobe` the
# search effort; together they keep recall@10 clearly below 1.
WORKLOADS = {
    "ann_pipeline": dict(rows=6000, dim=64, clusters=50, spread=2.0, labels=8, slab=300,
                         deletes=300, k=10, ef=10, self_ef=64, shards=16, n_centroids=75,
                         nprobe=8, gt_every=5, search_reps=4, ndjson=True, warmup_rounds=1),
    "point_query": dict(rows=2000, dim=64, clusters=20, spread=2.0, labels=8, k=10, ef=10,
                        shards=4, n_centroids=40, nprobe=8, round_queries=8, warmup_rounds=3),
}
SETUP_REPS = 5
RUN_BUDGET_S = 170
BUILD_BUDGET_S = 850
BUILD_DIR = os.path.join(ROOT, ".bench_build")
OUT_DIR = os.path.join(HERE, "out")
# what sbt needs to build the engine and the harness
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
# Spark on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Driver heap: half of RAM, at most 4 GiB. It is also the initial heap,
    so that heap resizing does not add to the first rounds' times."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kib // 2**21))}g"


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"{cmd[0]} timed out after {timeout:.0f}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode


def source_stamp():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    for rel in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from a full checkout of the repository")
    stamp, cp_file = source_stamp(), os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            f"-Djava.io.tmpdir={BUILD_DIR}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "export perfbench/Runtime/fullClasspath"],
                        BUILD_BUDGET_S, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                        stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if code != 0 or not lines:
        sys.stderr.write("\n".join(l for l in lines[-40:] if len(l) < 1000) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(cp, work, seconds, trace, deadline):
    results = os.path.join(work, "results.json")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "perfbench.Main",
           "--manifest", os.path.join(work, "data", "manifest.json"), "--out", results,
           "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(cores()), "--setup-reps", str(SETUP_REPS),
           "--local-dir", os.path.join(work, "spark-local")]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        code = run_proc(cmd, max(10, deadline - time.time()), stdout=out,
                        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    result = None
    if os.path.exists(results):
        with open(results) as f:
            result = json.load(f)
    if code != 0 or result is None or result.get("error"):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"engine run failed (exit {code})")
    return result


def fmt(v):
    return "null" if v is None else f"{v:.6g}"


def run_workload(name, seed, seconds, trace, cp, deadline):
    work = os.path.join(BUILD_DIR, f"run-{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        gen.generate(name, WORKLOADS[name], seed, os.path.join(work, "data"))
        result = run_jvm(cp, work, seconds, trace, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, extra = metrics.end_to_end(result)
    layers = metrics.per_layer(result) if trace else {}
    checks = result["checks"]
    failed = [c for c in checks if not c["ok"]]
    attempted = metrics.operations(result)
    extra["failed_frac"] = len(failed) / attempted
    record = dict(workload=name, seed=seed, seconds=seconds, trace=trace,
                  rounds=result["rounds"], cores=result["cores"], end_to_end=e2e, extra=extra,
                  per_layer=layers, checks=checks, spans=result["spans"], attempted=attempted, failed=len(failed),
                  sizes=WORKLOADS[name])
    os.makedirs(os.path.join(OUT_DIR, name), exist_ok=True)
    with open(os.path.join(OUT_DIR, name, f"seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    print(f"# {name} seed={seed} rounds={result['rounds']} cores={result['cores']} "
          f"trace={trace} sizes={json.dumps(WORKLOADS[name], sort_keys=True)}")
    units = {n: u for n, u, _ in metrics.END_TO_END}
    for k, v in e2e.items():
        print(f"{name} {k} = {fmt(v)} {units[k]}")
    extra_units = dict(insert_rows_per_s="1/s", query_samples="count", query_p50_ms="ms",
                       query_p95_ms="ms", run_s="s", failed_frac="ratio")
    for k, v in extra.items():
        note = f" (n={extra['query_samples']})" if k.startswith("query_p") else ""
        print(f"{name} {k} = {fmt(v)} {extra_units[k]}{note}")
    for c in failed:
        print(f"{name} CHECK FAILED: {c['name']}: {c['detail']}")
    return record


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = classpath()
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    records = []
    for name in names:
        deadline = time.time() + RUN_BUDGET_S
        records.append(run_workload(name, args.seed, args.seconds, args.trace, cp, deadline))
    ok = all(r["failed"] == 0 for r in records)
    last = records[-1]
    line = {"correct": ok, "attempted": sum(r["attempted"] for r in records),
            "failed": sum(r["failed"] for r in records), "metrics": {}}
    if len(records) == 1:
        if args.trace:
            specs = metrics.per_layer_specs()
            line["metrics"] = {n: {"value": last["per_layer"][n], "unit": u} for n, u, _ in specs}
        else:
            line["metrics"] = {n: {"value": last["end_to_end"][n], "unit": u}
                               for n, u, _ in metrics.END_TO_END}
    else:
        for r in records:
            for n, u, _ in metrics.END_TO_END:
                line["metrics"][f"{r['workload']}.{n}"] = {"value": r["end_to_end"][n], "unit": u}
    print(json.dumps(line))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
