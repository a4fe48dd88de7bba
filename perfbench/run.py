#!/usr/bin/env python3
"""The minietl-spark benchmark: one command, four workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the harness
from source (once per source tree, into .bench_build/), generates the
workload's inputs for the seed (once per seed), then runs the workload in
a fresh JVM at local[N] with N = half the cores this process may use.
Every operation's output is checked after the run; the last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s,
first_run_cpu_s, run_cpu_s, peak_mem_mb; the wall times of the same
rounds go to standard error and the run record); with --trace 1 they are
the per-layer ones, the spans are written to .bench_build/traces/ and a
per-layer table is printed first. Each run also leaves a record with its machine stamp in
.bench_build/records/ (see stats.py).
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

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_relational", "curation_batch", "ingest_stream", "battery_mix")
# (warm-up rounds, least measured rounds) after the cold round 0
ROUNDS = {"etl_relational": (2, 3), "ingest_stream": (1, 2), "curation_batch": (1, 2),
          "battery_mix": (1, 2)}
# set-up is timed in this many fresh JVMs per run; the median is reported
SETUP_SAMPLES = 2
HEAP = "3g"
JVM_TIMEOUT_S = 120
# Two JIT compiler threads and two collector threads, so that with the
# task threads of local[N] (N = half the usable cores) the JVM does not ask
# for more cores at once than it has. The heap is fixed (3 GB, of which a
# 768 MB young generation) so that collections fall at the same points in
# every run instead of following G1's adaptive sizing.
JVM_FLAGS = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn768m", "-XX:CICompilerCount=2",
             "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [f for f in tops if os.path.exists(f)]
    for t in trees:
        for root, dirs, names in os.walk(t):
            dirs.sort()
            files += [os.path.join(root, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the runtime classpath.
    Rebuilds only when a source file of either changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no program sources here (build.sbt, src/main/scala): run from the checkout root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness (sbt)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1].strip(),
                   "seconds": round(time.time() - t0, 1)}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------- inputs

def inputs_for(workload, seed):
    """Generate once per (workload, seed), outside the timed run."""
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    key = "fixed" if workload == "battery_mix" else str(seed)
    d = os.path.join(BUILD, "inputs", workload, f"{key}-{version}")
    manifest = os.path.join(d, "manifest.json")
    if not os.path.exists(manifest):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(manifest) as f:
        return d, json.load(f)


def stage_configs(workload, work):
    """The configs the program runs, in the run's work directory. The
    curation config is the committed training-data example, with span
    dedup switched to fixpoint mode."""
    import yaml
    cdir = os.path.join(work, "configs")
    os.makedirs(cdir)
    for name in os.listdir(os.path.join(BENCH, "configs")):
        shutil.copy(os.path.join(BENCH, "configs", name), cdir)
    examples = os.path.join(ROOT, "examples")
    if workload == "curation_batch":
        with open(os.path.join(examples, "training_data_pipeline.yaml")) as f:
            cfg = yaml.safe_load(f)
        spans = [t for t in cfg["transformers"] if t["type"] == "span_dedup"]
        if not spans:
            die("examples/training_data_pipeline.yaml has no span_dedup stage")
        spans[0]["fixpoint"] = True
        with open(os.path.join(cdir, "curation.yaml"), "w") as f:
            yaml.safe_dump(cfg, f, sort_keys=False)


# ---------------------------------------------------------------- machine

def cores():
    return len(os.sched_getaffinity(0))


def machine_stamp(versions, n):
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for ln in f:
            if ln.startswith("MemTotal:"):
                mem_kb = int(ln.split()[1])
    return {"cpus": os.cpu_count(), "local_n": n, "mem_gb": round(mem_kb / 1048576, 1),
            "java": versions.get("java"), "spark": versions.get("spark"), "heap": HEAP,
            "jvm_flags": " ".join(JVM_FLAGS)}


# ---------------------------------------------------------------- run

_children = []


def _stop_children(signum, frame):
    """Stop the JVM this run started before exiting on a signal."""
    for p in _children:
        if p.poll() is None:
            p.kill()
            p.wait()
    sys.exit(128 + signum)


def jvm(classpath, work, args, tag):
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    result = os.path.join(work, f"result_{tag}.json")
    with open(os.path.join(work, f"jvm_{tag}.log"), "w") as logf:
        proc = subprocess.Popen(cmd + ["--result", result], cwd=work, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT)
        _children.append(proc)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"the {tag} JVM did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(work, f"jvm_{tag}.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"the {tag} JVM failed (exit {proc.returncode})")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="N in local[N] (default: half the usable cores, at least 1)")
    ap.add_argument("--keep", action="store_true", help="keep the run's work directory")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)

    classpath = build()
    inputs, manifest = inputs_for(a.workload, a.seed)
    n = a.cores or max(1, cores() // 2)
    warmup, min_rounds = ROUNDS[a.workload]
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        stage_configs(a.workload, work)
        base = ["--workload", a.workload, "--inputs", inputs, "--work", work,
                "--cores", str(n), "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--warmup", str(warmup), "--min-rounds", str(min_rounds)]
        setups = [] if a.trace else [
            jvm(classpath, work, base + ["--probe"], f"probe{i}")["setup_s"]
            for i in range(SETUP_SAMPLES - 1)]
        res = jvm(classpath, work, base, "main")
        setups.append(res["setup_s"])
        ops = [op for r in res["rounds"] for op in r["ops"]]
        verdicts = checks.check(a.workload, inputs, manifest, ops, res.get("extras", {}))
        failed = sum(1 for ok, _ in verdicts if not ok)
        for (ok, why), op in zip(verdicts, ops):
            if not ok:
                log(f"FAILED {op['name']}: {why}")
        rounds = res["rounds"]
        measured = [r for r in rounds if r["phase"] == "measured"]
        stamp = machine_stamp(res.get("versions", {}), n)
        wall = {"first_run_s": rounds[0]["op_s"],
                "run_s": statistics.median(r["op_s"] for r in measured)}
        if a.trace:
            per_layer, table = layers.per_layer(a.workload, res, work, n)
            metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in per_layer.items()}
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{a.workload}-{a.seed}-{int(time.time())}.json")
            with open(trace_file, "w") as f:
                json.dump({"stamp": stamp, "rounds": rounds, "trace": res.get("trace"),
                           "extras": res.get("extras")}, f)
            print(table)
            print(f"spans written to {os.path.relpath(trace_file, ROOT)}")
        else:
            metrics = {
                "setup_s": {"value": statistics.median(setups), "unit": "s"},
                "first_run_cpu_s": {"value": rounds[0]["cpu_s"], "unit": "s"},
                "run_cpu_s": {"value": statistics.median(r["cpu_s"] for r in measured),
                              "unit": "s"},
                "peak_mem_mb": {"value": res["heap_after_gc_peak_mb"], "unit": "MB"},
            }
        record = {"rounds": [[round(o["seconds"], 3) for o in r["ops"]] for r in rounds],
                  "ops_cpu": [[round(o["cpu_s"], 3) for o in r["ops"]] for r in rounds],
                  "round_cpu": [round(r["cpu_s"], 3) for r in rounds],
                  "phases": [r["phase"] for r in rounds],
                  "round_jit_cpu": [round(r["jit_cpu_s"], 3) for r in rounds],
                  "round_gc_cpu": [round(r["gc_cpu_s"], 3) for r in rounds],
                  "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "stamp": stamp, "setup_samples": setups,
                  "wall": wall,
                  "heap_after_gc_peak_mb": res.get("heap_after_gc_peak_mb"),
                  "rss_peak_mb": res.get("rss_peak_mb"), "metrics": metrics,
                  "attempted": len(ops), "failed": failed, "time": time.time()}
        rec_dir = os.path.join(BUILD, "records")
        os.makedirs(rec_dir, exist_ok=True)
        with open(os.path.join(rec_dir, f"{a.workload}-{a.seed}-{a.trace}-{int(time.time() * 1000)}.json"),
                  "w") as f:
            json.dump(record, f)
        log(f"machine: {json.dumps(stamp)}")
        log(f"wall: first run {wall['first_run_s']:.3f} s, measured round median "
            f"{wall['run_s']:.3f} s ({len(measured)} rounds)")
        # correct: every operation that ran to its end produced correct output
        correct = all(ok or op.get("error") for (ok, _), op in zip(verdicts, ops))
        print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
