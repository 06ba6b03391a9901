#!/usr/bin/env python3
"""Benchmark of the graft engine, measured from outside through its public
entry points. One command per run:

    python3 perfbench/run.py --workload <wordcount|query_mix|curation> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (once per source tree), generates the workload's inputs from the
seed (once per seed and size), runs one JVM with one closed-loop client,
checks the outputs, prints a report and, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. It exits non-zero
on any failed check. `--record-mix` re-records the query mix (see
README.md).
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import build, checks, gen, metrics, mix  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
MIX_FILE = os.path.join(HERE, "expected", "query_mix.tsv")
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 150

# Input sizes, fixed so that one job is a few seconds on 4 cores.
WORDCOUNT_TOKENS = 1_250_000
CURATION_DOCS = 5_000

# build.sbt's JDK 17 module opens for a SparkSession outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_mem():
    """The test suite's Spark driver heap rule: half the machine's memory in GiB,
    clamped to 2..8, unless SPARK_DRIVER_MEM says otherwise."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java(classpath, main, args, log):
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{driver_mem()}",
        # all JIT compiler threads live from start to exit, so JitCpu sees all their CPU
        "-XX:-UseDynamicNumberOfCompilerThreads",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main] + args
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=tmp)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (SystemExit): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    return rc


def read_mix():
    rows = []
    with open(MIX_FILE) as fh:
        for line in fh:
            if line.strip() and not line.startswith("#"):
                name, family, h = line.split()
                rows.append((name, family, int(h)))
    return rows


def prepare(workload, seed):
    """Generates (or reuses) the inputs; returns (input dir, facts)."""
    inputs = os.path.join(WORK, "inputs")
    if workload == "wordcount":
        return gen.cached(inputs, "wordcount", seed, WORDCOUNT_TOKENS,
                          lambda d: gen.wordcount_corpus(d, seed, WORDCOUNT_TOKENS))
    if workload == "curation":
        return gen.cached(inputs, "curation", seed, CURATION_DOCS,
                          lambda d: gen.curation_corpus(d, seed, CURATION_DOCS))
    # query_mix: fixed tables; the seed only permutes the query order
    rows = read_mix()
    order = [n for n, _, _ in rows]
    random.Random(seed).shuffle(order)
    d = os.path.join(inputs, f"query_mix-seed{seed}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "data-dir"), "w") as fh:
        fh.write(MIX_DATA)
    with open(os.path.join(d, "queries"), "w") as fh:
        fh.write("\n".join(order) + "\n")
    with open(os.path.join(d, "expected-hashes"), "w") as fh:
        fh.write("".join(f"{n} {h}\n" for n, _, h in rows))
    return d, {"queries": order}


def record_mix(classpath):
    """Applies the membership rule to the registry and records each chosen
    query's content hash over the vendored tables."""
    log = os.path.join(WORK, "logs", "record-mix.log")

    def registry(args):
        if java(classpath, "perfbench.Registry", args, log) != 0:
            sys.exit(f"perfbench.Registry {args[0]} failed; see {log}")
        with open(log) as fh:
            return [l.split() for l in fh]

    chosen = mix.select([w[0] for w in registry(["list"]) if len(w) == 1 and w[0].startswith("q")])
    hashes = {w[0]: w[1] for w in registry(["hash", MIX_DATA] + [n for n, _ in chosen])
              if len(w) == 2 and w[1].lstrip("-").isdigit()}
    with open(MIX_FILE, "w") as fh:
        fh.write("# query family content_hash (see harness/mix.py; tables: data/sf0.01)\n")
        fh.writelines(f"{n} {f} {hashes[n]}\n" for n, f in chosen)
    print(f"recorded {len(chosen)} queries to {MIX_FILE}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["wordcount", "query_mix", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-mix", action="store_true")
    a = ap.parse_args()
    if not a.record_mix and not a.workload:
        ap.error("--workload is required")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))

    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    build_dir = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    if not os.path.isabs(build_dir):
        build_dir = os.path.join(ROOT, build_dir)
    try:
        classpath = build.build(ROOT, build_dir)
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        sys.exit(f"perfbench: build failed: {e}")
    if a.record_mix:
        record_mix(classpath)
        return

    inputs, facts = prepare(a.workload, a.seed)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, f"{tag}.json")
    log = os.path.join(WORK, "logs", f"{tag}.log")
    if os.path.exists(out):
        os.remove(out)
    rc = java(classpath, "perfbench.Harness", [
        "--workload", a.workload, "--inputs", inputs, "--work", os.path.join(WORK, "run"),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out], log)
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        sys.exit(f"perfbench: harness JVM failed ({rc}); see {log}")
    with open(out) as fh:
        raw = json.load(fh)

    attempted, failures = checks.run(a.workload, raw, facts, inputs)
    values = metrics.layer(a.workload, raw, facts) if a.trace else metrics.end_to_end(a.workload, raw, facts)
    metrics.report(a.workload, raw, values, attempted, failures)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in values.items()},
    }))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
