#!/usr/bin/env python3
"""Run one graft benchmark workload and print its metrics.

    python3 perfbench/run.py --workload spec_batch --seed 1 --seconds 10 --trace 0

Builds graft and the benchmark program from source on first use
(perfbench/build.sbt), generates the workload's inputs from the seed,
runs the workload in one JVM on local[N] with N = the number of cores,
checks its outputs and prints every metric by name, then, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones and writes the spans to .bench_work/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("spec_batch", "ccd_stack", "gate_mix", "spec_tail")
FAMILY = {"spec_batch": "spec", "ccd_stack": "ccd", "gate_mix": "tables", "spec_tail": "tail"}
# The warm-up and small inputs use one fixed seed, separate from every
# measured input; the gate digests taken on the small tables are compared
# with recorded reference digests.
FIXED_SEED = 0
JVM_TIMEOUT_S = 170
REFERENCE = os.path.join(HERE, "reference_digests.json")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ------------------------------------------------------------- build

def _sources():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        if os.path.isfile(base):
            yield base
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compiles graft and the benchmark program when a source changed;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources (src/main/scala/graft) are not in this checkout")
    h = hashlib.sha256()
    for p in _sources():
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(HERE, "target", "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.server.autostart=false", "-Dsbt.offline=true", "-Dsbt.log.noformat=true"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home and shutil.which("spark-submit"):
        spark_home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    log("perfbench: building graft and the benchmark program")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", *opts, "-J-Xmx3g", "writeClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        log(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return open(cp_file).read().strip()


# ---------------------------------------------------------- generate

def sizes(seconds, tiny):
    """Input sizes of each family at the `full` size (the workload's own
    input and its JIT warm-up input) and the `small` size (the gates'
    warm-up and the layers a traced run probes besides its own)."""
    small = {
        "spec": dict(n_files=2, n_scans=20),
        "ccd": dict(n_edf=1, n_tiff=1, frames_per_file=4, size=64),
        "tables": dict(sf=0.001),
        "tail": dict(n_files=2, burst=10, cycles=1, rate=50.0, open_loop_s=0.4),
    }
    if tiny:
        full = dict(small)
    else:
        full = {
            "spec": dict(n_files=4, n_scans=120),
            "ccd": dict(n_edf=2, n_tiff=1, frames_per_file=32, size=256),
            "tables": dict(sf=0.01),
            "tail": dict(n_files=2, burst=40, cycles=3, rate=25.0, open_loop_s=seconds),
        }
    return full, small


def generate(fam, root, seed, size):
    import gen
    data = os.path.join(root, "data")
    os.makedirs(root, exist_ok=True)
    if fam == "spec":
        facts = gen.spec_corpus(data, seed, size["n_files"], size["n_scans"])
    elif fam == "ccd":
        facts = gen.ccd_stacks(data, seed, size["n_edf"], size["n_tiff"],
                               size["frames_per_file"], size["size"])
    elif fam == "tables":
        facts = gen.tables(data, seed, size["sf"])
    else:
        open_loop = max(1, int(round(size["rate"] * size["open_loop_s"])))
        # the cycles' cold and warm bursts, one more traced burst, the open loop
        n = 2 * size["burst"] * size["cycles"] + size["burst"] + open_loop
        facts = gen.spec_tail(data, os.path.join(root, "tail_payload.bin"), seed,
                              size["n_files"], n)
        facts.update(burst=size["burst"], cycles=size["cycles"], rate=size["rate"],
                     open_loop_scans=open_loop)
    with open(os.path.join(root, "facts.json"), "w") as fh:
        json.dump(facts, fh)
    return {k: v for k, v in facts.items() if isinstance(v, (int, float))}


# --------------------------------------------------------------- run

def java_cmd(cp, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # a fixed-size young generation and heap keep the resident set a
    # function of the data the program retains, not of heap sizing
    cmd = [shutil.which("java") or "java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn512m",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main"]


def main():
    # a terminated run still stops its JVM and deletes its working directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite reference_digests.json from this checkout's gate results")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    metric_defs = spec["per_layer" if args.trace else "end_to_end"]
    cp = build()
    cpus = os.cpu_count() or 1

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        full, small = sizes(args.seconds, args.tiny)
        own = FAMILY[args.workload]
        wanted = [(own, "full", args.seed, full[own])]
        if own == "tables":
            wanted.append((own, "small", FIXED_SEED, small[own]))
        else:
            wanted.append((own, "warmup", FIXED_SEED, full[own]))
        if args.trace:
            wanted += [(fam, "small", FIXED_SEED, small[fam]) for fam in FAMILY.values()
                       if fam != own]
        t0 = time.perf_counter()
        inputs = {f"{fam}/{size}": generate(fam, os.path.join(work, fam, size), seed, dims)
                  for fam, size, seed, dims in wanted}
        gen_s = time.perf_counter() - t0

        result_path = os.path.join(work, "result.json")
        jvm_log = os.path.join(work, "jvm.log")
        launch_ns = time.time_ns()
        with open(jvm_log, "wb") as fh:
            proc = subprocess.Popen(
                java_cmd(cp, work) + [own, work, str(args.seconds), str(args.trace),
                                      str(cpus), str(launch_ns), REFERENCE,
                                      "1" if args.record_digests else "0", result_path],
                stdout=fh, stderr=subprocess.STDOUT, cwd=work)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(result_path):
            log(open(jvm_log, errors="replace").read()[-6000:])
            fail(f"the benchmark JVM exited with {rc}")
        with open(result_path) as fh:
            res = json.load(fh)
        if "error" in res:
            log(open(jvm_log, errors="replace").read()[-6000:])
            fail(f"the workload failed: {res['error']}")

        if args.trace:
            traces = os.path.join(ROOT, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "trace.jsonl"), dest)
            print(f"trace: {os.path.relpath(dest, ROOT)}")
        print("inputs: " + json.dumps({"generate_s": round(gen_s, 3), **inputs}))
        print("notes: " + json.dumps(res.get("notes", {})))
        metrics, missing = {}, []
        for m in metric_defs:
            v = res["metrics"].get(m["name"])
            if v is None or not math.isfinite(v):
                missing.append(m["name"])
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
            print(f"{m['name']} = {v:.6g} {m['unit']}")
        attempted, failed = int(res["attempted"]), int(res["failed"])
        correct = failed == 0 and not missing and attempted > 0
        if missing:
            log(f"perfbench: metrics not measured: {', '.join(missing)}")
        print(f"correct = {correct} ({failed} of {attempted} operations failed)")
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
