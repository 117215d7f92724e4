#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, measured from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine from the
checkout's sources together with the benchmark's own Scala code
(perfbench/build.sbt, output under .bench_build/); later runs reuse the
build while the sources are unchanged. Each run then

1. generates the workload's inputs from the seed three times, checks the
   three copies are byte-identical and times the median copy (gen.py);
2. starts one JVM that runs the workload under the production session
   profile and writes its measurements (perfbench.Main);
3. checks the outputs: the batch results against their DuckDB oracle SQL
   with the engine's tools/oracle_check.py, the stream and table outputs
   inside the JVM;
4. prints every metric by name with its unit, then, as the last line, one
   JSON object with the keys correct, attempted, failed and metrics.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. BENCHMARK.json lists both; PREDICTIONS.md says which
layer metric should move which end-to-end metric on which workload.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "scala-2.13", "classes")
sys.path.insert(0, HERE)

# recon_pipeline's schedule: a steady rung at STEADY_EPS events/s for the
# whole measured window, open loop (its latency is the one reported), then a
# burst rung of BURSTS backlogs of BURST_EVENTS events in BURST_FILES files,
# each published at once, the next as soon as a trigger has taken the last. The events the engine drains per second of trigger time
# there are its capacity. A rung counts towards recon.max_rate_eps only if
# its p90 latency meets LATENCY_LIMIT_MS.
STEADY_EPS = 500
SLICE_MS = 250
BURSTS = 3
BURST_EVENTS = 20_000
BURST_FILES = 8
LATENCY_LIMIT_MS = 10_000
# Warm-up covers reconStream's 24 h join band plus its 10-minute watermark.
WARM_HOURS = 24 + 10 / 60
GENERATIONS = 3
# batch_battery's scale factor. At sf0.1 one run needs about 80 s on a
# 4-core host (a 31 s warm-up and oracle pass, 12 s per timed pass, 21 s for
# the recon_nation_netting oracle in DuckDB), which the run budget of the
# benchmark does not allow; sf0.01 is the scale the engine's own DuckDB
# correctness check uses.
BATTERY_SF = 0.01

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]


def build():
    """Compiles the engine and the benchmark unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must point at a Spark installation with a jars/ directory")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # Resolve only from the local caches: the build must never reach out.
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    if r.returncode != 0:
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())


def recon_schedule(seconds):
    """(phase, due ms, events) per slice of recon_pipeline's measured window."""
    steady_ms = seconds * 1000
    per_slice = round(STEADY_EPS * SLICE_MS / 1000)
    out = [("steady", j * SLICE_MS, per_slice) for j in range(int(steady_ms // SLICE_MS))]
    for b in range(BURSTS):
        out += [(f"burst{b}", steady_ms, BURST_EVENTS // BURST_FILES)] * BURST_FILES
    return out


def tree_digest(path):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(path, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, path).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generate(workload, seed, seconds, work):
    """Generates the inputs GENERATIONS times; returns (dir, median s, same)."""
    import gen
    times, digests, out = [], [], None
    for i in range(GENERATIONS):
        out = os.path.join(work, f"inputs{i}")
        t0 = time.perf_counter()
        if workload == "batch_battery":
            gen.gen_tables(seed, out, sf=BATTERY_SF)
        elif workload == "recon_pipeline":
            gen.gen_stream(seed, out, warm_events=math.ceil(WARM_HOURS * gen.REF_EVENTS_PER_HOUR),
                           schedule=recon_schedule(seconds))
        else:
            gen.gen_table_rw(seed, out)
        times.append(time.perf_counter() - t0)
        digests.append(tree_digest(out))
        if i < GENERATIONS - 1:
            shutil.rmtree(out)
    return out, statistics.median(times), len(set(digests)) == 1


def oracle_gate(tables, results):
    """Checks each battery result against its DuckDB oracle SQL with the
    engine's own checker, tools/oracle_check.py (canonical hash, column and
    row checks, banned output types); returns its failures."""
    script = os.path.join(ROOT, "tools", "oracle_check.py")
    if not os.path.exists(script):
        return ["tools/oracle_check.py is not in this checkout"]
    r = subprocess.run([sys.executable, script, tables, results], capture_output=True, text=True,
                       timeout=60, env=dict(os.environ, PYTHONDONTWRITEBYTECODE="1"))
    errors = [line[len("FAIL "):] for line in r.stdout.splitlines() if line.startswith("FAIL ")]
    if r.returncode != 0 and not errors:
        errors.append(f"oracle check exited {r.returncode}: {r.stderr[-500:]}")
    return errors


def units(section):
    """Metric name -> unit for one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["recon_pipeline", "batch_battery", "table_rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.monotonic()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is not at the root of this checkout")
    build()
    built = time.monotonic()

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs, gen_s, same = generate(args.workload, args.seed, args.seconds, work)
        out = os.path.join(work, "result.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
            "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
            "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
            "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # A fixed heap keeps the high-water RSS from following GC timing.
        cmd = [java, *opens, "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={work}/warehouse",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
               "perfbench.Main", "--workload", args.workload,
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--inputs", inputs, "--work", work, "--out", out,
               "--latency_limit_ms", str(LATENCY_LIMIT_MS)]
        log = os.path.join(work, "jvm.log")
        t_engine = time.monotonic()
        with open(log, "w") as lf:
            r = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=max(10, 160 - (time.monotonic() - built)))
        if r.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"the engine run failed (exit {r.returncode})")
        t_engine = time.monotonic() - t_engine
        res = json.load(open(out))
        errors = list(res["gate_errors"])
        t_oracle = time.monotonic()
        if not same:
            errors.append("the generator gave different inputs for the same seed")
        if args.workload == "batch_battery":
            errors += oracle_gate(inputs, os.path.join(work, "results"))
        t_oracle = time.monotonic() - t_oracle
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = [k for k, v in res["e2e"].items() if v is None]
    if missing:
        fail(f"the run measured nothing for {missing}")
    setup = res["setup"]
    setup_s = gen_s + sum(setup.values())
    e2e = dict(res["e2e"], setup_s=setup_s)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}")
    print(f"  wall: engine process {t_engine:.1f} s, oracle check {t_oracle:.1f} s, "
          f"whole run {time.monotonic() - started:.1f} s")
    print(f"  set-up: generate {gen_s:.3f} s (median of {GENERATIONS}), " +
          ", ".join(f"{k} {v:.3f} s" for k, v in sorted(setup.items())))
    for k, v in sorted(res["named"].items()):
        print(f"  {k} = {v}")
    print(f"  error_rate = {failed / max(1, attempted):.6f} ({failed} of {attempted} failed)")
    print("  end-to-end: " + json.dumps(e2e))
    for e in errors[:20]:
        print(f"  GATE FAILED: {e}")

    if args.trace:
        layer = res["layer"]
        metrics = {n: {"value": float(layer.get(n) or 0.0), "unit": u} for n, u in units("per_layer").items()}
        for k, v in sorted(res["self_ms"].items()):
            print(f"  self time {k} = {v:.3f} ms")
        print(f"  spans recorded: {res['spans']}")
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in units("end_to_end").items()}
    for n, m in metrics.items():
        print(f"  {n} = {m['value']:.4f} {m['unit']}")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
