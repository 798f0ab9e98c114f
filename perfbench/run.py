#!/usr/bin/env python3
"""The repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and this
benchmark with sbt (offline) and caches the classpath; each seed's inputs are
generated once and cached. Everything the benchmark writes lives under
`perfbench/.work/`. The JVM (the heap and code cache of the program's own
build) runs Spark `local[nproc]` with one client thread in a closed loop;
this script then checks the outputs (DuckDB oracles and replays, generator
counts) and prints the workload's metrics. The last stdout line is one JSON
object: {correct, attempted, failed, metrics}. With `--trace 0` the metrics
are the end-to-end ones, with `--trace 1` the per-layer ones from a traced
run. A failed check exits 1.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from stats import summary  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def sources():
    """Every file the build reads, for the stale-build check."""
    out = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for r, _, fs in os.walk(base):
            out += [os.path.join(r, f) for f in fs]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build():
    """Compile with sbt when any source changed; return the classpath."""
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")):
        if not os.path.exists(p):
            raise SystemExit(f"perfbench: the program's sources are missing ({p})")
    h = hashlib.sha256()
    for p in sources():
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    out = run_proc(cmd, HERE, env, BUILD_TIMEOUT_S, os.path.join(WORK, "build.log"))
    cps = [l.strip() for l in out.splitlines() if l.strip().startswith("/") and ".jar" in l]
    if not cps:
        raise SystemExit("perfbench: build failed, see perfbench/.work/build.log")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1]


def run_proc(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            raise SystemExit(f"perfbench: {cmd[0]} timed out after {timeout} s")
        err.write(out)
        if p.returncode != 0:
            err.flush()
            tail = open(log_path).read()[-3000:]
            raise SystemExit(f"perfbench: {cmd[0]} exited {p.returncode}\n{tail}")
    return out


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def git_header():
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel"], cwd=ROOT,
                             capture_output=True, text=True)
        if top.returncode or os.path.realpath(top.stdout.strip()) != os.path.realpath(ROOT):
            return {"git_sha": None, "git_dirty": None}
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                               cwd=ROOT, capture_output=True, text=True).stdout.strip()
        return {"git_sha": sha, "git_dirty": bool(dirty)}
    except OSError:
        return {"git_sha": None, "git_dirty": None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec = load_spec()
    os.makedirs(WORK, exist_ok=True)
    cp = build()

    t0 = time.time()
    # the cache key carries the generator's own hash: editing it regenerates
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(WORK, "data", f"{a.workload}-{a.seed}-{gen_hash}")
    os.makedirs(os.path.dirname(data), exist_ok=True)
    manifest = gen.GENERATORS[a.workload](data, a.seed)
    gen_s = time.time() - t0

    # only the latest run's scratch files are kept: a warehouse per run adds up
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    work = os.path.join(WORK, "run", f"{a.workload}-{a.seed}-t{a.trace}")
    os.makedirs(os.path.join(work, "tmp"))
    # the heap and code cache the program's own build gives its forked runs
    jvm = (["java", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work])
    t1 = time.time()
    # every scratch directory of the JVM lives under `work`
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    run_proc(jvm, ROOT, env, JVM_TIMEOUT_S, os.path.join(work, "jvm.log"))
    jvm_s = time.time() - t1
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    t2 = time.time()
    problems = checks.run(a.workload, res, data, manifest, work)
    check_s = time.time() - t2
    problems += res["check_failures"]
    v = res["values"]
    if "work_s" not in v:
        problems.append("the fixed work did not complete")
    for p in problems:
        log(f"CHECK FAILED {p}")
    samples = res["samples"]
    op, bulk = summary(samples["op_ms"]), summary(samples["bulk_s"])
    setup = summary(samples["setup_s"])
    named = checks.named_metrics(a.workload, samples, res)
    e2e = {"setup_s": setup["p50"], "work_cpu_s": v.get("work_cpu_s", 0.0),
           "jobs_per_op": statistics.median(samples["jobs"]),
           "bytes_written_per_input_byte":
               v.get("work_bytes_written", 0) / max(v.get("work_input_bytes", 0), 1)}
    layers = dict(res["layers"], **{"jvm.peak_heap_mb": res["peak_heap_mb"]})
    layers.update(named.pop("layers", {}))
    header = dict(res["header"], **git_header(), python=platform.python_version(),
                  generate_s=round(gen_s, 3), jvm_wall_s=round(jvm_s, 3),
                  check_s=round(check_s, 3),
                  inputs=manifest_summary(manifest))
    if a.trace:
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = not problems and res["failed"] == 0
    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "header": header, "correct": correct,
            "attempted": res["attempted"], "failed": res["failed"],
            "failure_share": res["failed"] / max(res["attempted"], 1),
            "failures": res["failures"], "check_failures": problems,
            "summaries": {"op_ms": op, "bulk_s": bulk, "setup_s": setup},
            "named": named, "end_to_end": e2e, "layers": layers, "samples": samples,
            "kernels": {k: res["values"][k] for k in ("kernels_found", "kernels_unpriced")
                        if k in res["values"]}}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out_path = os.path.join(WORK, "results", f"{int(time.time() * 1000)}-{a.workload}"
                            f"-s{a.seed}-t{a.trace}.json")
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    if a.trace:  # the trace's spans and SQL executions sit beside the result
        for name in ("spans.jsonl", "executions.json"):
            os.replace(os.path.join(work, name), out_path[:-5] + "." + name)

    print("header " + json.dumps(header, sort_keys=True))
    for k, v in named.items():
        print(f"{a.workload:18s} {k:26s} {v['value']:14.4f} {v['unit']:6s} n={v['n']}")
    print(f"{a.workload:18s} attempted={res['attempted']} failed={res['failed']} "
          f"correct={correct} result={os.path.relpath(out_path, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def manifest_summary(m):
    """The manifest without its per-document id lists."""
    out = dict(m)
    if "batches" in m:
        out["batches"] = [{k: v for k, v in b.items() if not k.endswith("_ids")}
                          for b in m["batches"]]
    return out


if __name__ == "__main__":
    main()
