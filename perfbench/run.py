#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine, one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the benchmark from source with sbt (offline) and makes the derived inputs;
both are kept under .bench_build/ and reused while the sources stay the same.
Each run then starts the workload JVM on local[nproc] as one closed-loop
client. The last stdout line is the result as one JSON object; the line
before it names every figure with its unit. See README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data")

WORKLOADS = ("daily_pipeline", "catalog_sf0.01")
HEAP = ["-Xmx3g"]  # a ceiling only: the heap follows the live data
RUN_LIMIT_S = 170  # the workload JVM, after the build
SF1_REPLICAS = "100"

# per-layer metrics of calls a workload never makes: they read 0 there
UNREACHED = {
    "daily_pipeline": ("queries.",),
    "catalog_sf0.01": ("launch.", "curation.", "maintenance."),
}
# what each generic end-to-end metric is called on each workload
WORKLOAD_NAMES = {
    "daily_pipeline": {"op_p50_s": "day_p50_s", "op_mean_s": "day_mean_s",
                       "items_per_s": "events_per_s"},
    "catalog_sf0.01": {"op_p50_s": "query_p50_s", "op_mean_s": "query_mean_s",
                       "items_per_s": "queries_per_s"},
}
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads: a change rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile program and benchmark; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    # inputs made by an older build are made again by this one
    for d in ("data", "launch_history", "runs"):
        shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true "
                   "-Xmx2g")
    log("building program and benchmark with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def java_cmd(cp, work, args, main="perfbench.Main"):
    """Everything the JVM writes stays under its work directory."""
    opens = [x for p in JAVA_OPENS
             for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, *HEAP,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-cp", cp, main, *args]


def jvm_env(work):
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CONF"}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


def run_jvm(cp, work, args, limit):
    """Run the workload JVM, killed after `limit` seconds; return (exit
    code, ready epoch seconds, result)."""
    os.makedirs(work, exist_ok=True)
    ready, result = None, None
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(java_cmd(cp, work, args), cwd=work,
                             env=jvm_env(work), stdout=subprocess.PIPE,
                             stderr=err, text=True)
        watchdog = threading.Timer(max(1.0, limit), p.kill)
        watchdog.start()
        try:
            for line in p.stdout:
                if line.startswith("PERFBENCH_READY "):
                    ready = int(line.split()[1]) / 1000.0
                elif line.startswith("PERFBENCH_RESULT "):
                    result = json.loads(line.split(" ", 1)[1])
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
            p.wait()
    with open(os.path.join(work, "jvm.log")) as fh:
        lines = fh.readlines()
    # the workload's own messages (failed checks), and the log's tail when
    # the JVM failed
    sys.stderr.write("".join(l for l in lines if l.startswith("perfbench: ")))
    if p.returncode != 0:
        sys.stderr.write("".join(lines[-30:]))
    return p.returncode, ready, result


def prepare_data(cp, workload):
    """Untimed inputs: the shipped sf0.01, sf1 derived from it by the
    repository's make_sf1.py, and the launch zone history."""
    base = os.path.join(DATA, "sf0.01")
    if not os.path.exists(os.path.join(base, ".done")):
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(os.path.join(HERE, "data", "sf0.01"), base)
        open(os.path.join(base, ".done"), "w").close()
    sf1 = os.path.join(DATA, "sf1")
    if workload == "daily_pipeline" and \
            not os.path.exists(os.path.join(sf1, ".done")):
        make = os.path.join(ROOT, "tools", "make_sf1.py")
        if not os.path.exists(make):
            die(f"missing {make}")
        shutil.rmtree(sf1, ignore_errors=True)
        log("deriving sf1 (100 replicas of sf0.01)")
        subprocess.run([sys.executable, make, base, sf1, SF1_REPLICAS],
                       check=True, stdout=subprocess.DEVNULL, timeout=300)
        open(os.path.join(sf1, ".done"), "w").close()
    thr = os.path.join(DATA, "thresholds")
    if workload == "daily_pipeline" and \
            not os.path.exists(os.path.join(thr, "_SUCCESS")):
        log("computing the curation gate thresholds")
        work = os.path.join(BUILD, "runs", "thresholds")
        code, _, _ = run_jvm(cp, work, [
            "--workload", "prepare_curation_thresholds", "--seed", "0",
            "--seconds", "0", "--data", DATA, "--work", work], 300)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            die("thresholds failed")
    hist = os.path.join(BUILD, "launch_history")
    if workload == "daily_pipeline" and \
            not os.path.exists(os.path.join(hist, ".done")):
        shutil.rmtree(hist, ignore_errors=True)
        log("landing the launch zone history")
        code, _, _ = run_jvm(cp, hist, [
            "--workload", "prepare_launch_history", "--seed", "0",
            "--seconds", "0", "--data", DATA, "--work", hist], 300)
        if code != 0:
            die("launch history failed")
        open(os.path.join(hist, ".done"), "w").close()
    return hist


def fresh_work(name, hist, workload):
    work = os.path.join(BUILD, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload == "daily_pipeline":
        shutil.copytree(os.path.join(hist, "zone"), os.path.join(work, "zone"))
    return work


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: a shared host's steal shows how
    much of a run the hypervisor gave to others."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "BENCHMARK.json"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources under {ROOT}: run from a checkout root")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)  # metric names and units
    digest = source_digest()
    cp = build(digest)
    hist = prepare_data(cp, a.workload)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", DATA]
    work = fresh_work(tag, hist, a.workload)
    steal0, ticks0 = cpu_ticks()
    t0 = time.time()
    code, ready, res = run_jvm(cp, work, jvm_args + ["--work", work],
                               RUN_LIMIT_S)
    steal1, ticks1 = cpu_ticks()
    if code != 0 or ready is None or res is None:
        die("workload run failed")
    setup_s = ready - t0
    spans = os.path.join(work, "spans.jsonl")
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(spans, os.path.join(BUILD, "traces", f"{tag}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    attempted, failed = int(res["attempted"]), int(res["failed"])
    e2e = dict(res["e2e"], setup_s=setup_s)
    layers = {**res["detail"], **res["layers"]}
    names = WORKLOAD_NAMES[a.workload]
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "commit": commit(), "source_digest": digest[:16],
        **res["meta"],
        "fail_ratio": failed / attempted,
        "host_steal_ratio": (steal1 - steal0) / max(1, ticks1 - ticks0),
        "metrics": {names.get(m["name"], m["name"]):
                    {"value": e2e[m["name"]], "unit": m["unit"]}
                    for m in spec["end_to_end"]},
        "layer_detail": res["detail"],
        "op_secs": res["op_secs"],
    }
    print("perfbench detail " + json.dumps(detail))
    if a.trace:
        # a layer the workload does not reach reads 0; any other missing
        # figure fails the run
        skip = UNREACHED[a.workload]
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"] not in layers and not m["name"].startswith(skip)]
        if missing:
            log(f"per-layer metrics missing: {missing}")
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0)
                               if m["name"].startswith(skip)
                               else layers.get(m["name"]),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = failed == 0 and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
