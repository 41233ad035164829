#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads, one client each.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds graft and the benchmark's JVM program from source (once per source state),
generates the seeded inputs, runs one JVM with `local[<cores>]`, checks the
outputs with DuckDB and prints one JSON line last. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics; a traced run also
writes its spans to `perfbench/out/`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(HERE, "build")
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
DEADLINE_S = 170
SETUP_REPEATS = 3
JVM_OPTS = ["-Xmx2g", "-Xss8m", "-XX:+UseSerialGC", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """The Spark jars graft builds against, which also ship the Scala
    compiler: `$SPARK_HOME/jars`, else the `unmanagedBase` of build.sbt."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    return m.group(1) if m else ""


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files():
    files = []
    for base in SOURCES:
        for root, _, names in os.walk(base):
            files += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile graft and the benchmark program with the Scala compiler in the
    Spark jars; skipped when the sources are unchanged since the last build."""
    files = scala_files()
    digest = hashlib.sha256()
    for f in files + [os.path.join(r, n) for r, _, ns in os.walk(RESOURCES) for n in sorted(ns)]:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return
    tmp = BUILD + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    with open(os.path.join(tmp, "sources.txt"), "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
           "@" + os.path.join(tmp, "sources.txt")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.copytree(RESOURCES, classes, dirs_exist_ok=True)
    with open(os.path.join(tmp, "stamp"), "w") as fh:
        fh.write(digest.hexdigest())
    shutil.rmtree(BUILD, ignore_errors=True)
    os.rename(tmp, BUILD)


def set_up(workload, seed, work):
    """Generate the inputs SETUP_REPEATS times; keep one copy. Returns the
    median generation time and the manifest."""
    times, manifest = [], None
    for k in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        manifest = gen.generate(workload, seed, os.path.join(work, f"input_{k}"))
        times.append(time.perf_counter() - t0)
    os.rename(os.path.join(work, "input_0"), os.path.join(work, "input"))
    for k in range(1, SETUP_REPEATS):
        shutil.rmtree(os.path.join(work, f"input_{k}"))
    return statistics.median(times), manifest


def run_jvm(workload, work, seconds, trace, cores, deadline):
    cp = os.path.join(BUILD, "classes") + os.pathsep + os.path.join(spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                 workload, work, str(seconds), str(trace), str(cores)]
    launched = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            code = f"{proc.wait()} (killed at the {DEADLINE_S} s deadline)"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload}: JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    res["jvm_setup_s"] = res["ready_ms"] / 1e3 - launched
    return res


def span_median(passes, name):
    xs = [x for p in passes for x in p["info"]["spans"].get(name, [])]
    return statistics.median(xs) if xs else None


def run_workload(workload, seed, seconds, trace, deadline):
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen_s, manifest = set_up(workload, seed, work)
        res = run_jvm(workload, work, seconds, trace, cores, deadline)
        failures, attempted, extra = checks.run(workload, work, manifest, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    timed = [p for p in res["passes"] if p["kind"] == "timed"]
    e2e = {
        "setup_s": (gen_s + res["jvm_setup_s"], "s"),
        "cold_pass_s": (next(p["seconds"] for p in res["passes"] if p["kind"] == "cold"), "s"),
        "pass_s": (statistics.median(p["seconds"] for p in timed), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    shown = dict(e2e)
    for name, span in (("merge_p50_s", "sources.merge"), ("read_p50_s", "sources.read"),
                       ("cdf_p50_s", "sources.cdf")):
        shown[name] = (span_median(timed, span), "s")
    shown["error_rate"] = (len(failures) / attempted, "ratio")
    print(f"{workload} seed={seed} cores={cores} closed loop, 1 client, "
          f"{len(timed)} timed passes:")
    print("  " + "  ".join(f"{k}={'n/a' if v is None else f'{v:.4g}'} {u}"
                          for k, (v, u) in shown.items()))
    for f in failures:
        print(f"  FAILED {f}")
    if trace:
        layers = dict(res["layers"], **extra)
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"trace-{workload}-seed{seed}.json"), "w") as fh:
            json.dump({"workload": workload, "seed": seed, "cores": cores,
                       "inputs": manifest["files"], "per_layer": layers,
                       "passes": [{k: p[k] for k in ("index", "kind", "seconds")}
                                  for p in res["passes"]],
                       "spans": res["spans"]}, fh, indent=1)
        if workload in declared_workloads():
            # a layer the workload never enters did no work in it: 0
            metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in declared("per_layer")}
        else:
            metrics = {k: {"value": v} for k, v in sorted(layers.items())}
        print(f"  trace.overhead_s={layers['trace.overhead_s']:.4g} s "
              f"(traced pass_s - untraced pass_s, same JVM)")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in declared("end_to_end")}
    return {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": metrics}


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def declared_workloads():
    return [w["name"] for w in declared("workloads")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to perfbench/")
    if not os.path.isdir(spark_jars()):
        fail(f"no Spark jars at '{spark_jars()}'; set SPARK_HOME")
    build()
    if args.workload != "all":
        result = run_workload(args.workload, args.seed, args.seconds, args.trace,
                              time.monotonic() + DEADLINE_S)
    else:
        parts = {w: run_workload(w, args.seed, args.seconds, args.trace,
                                 time.monotonic() + DEADLINE_S) for w in gen.WORKLOADS}
        result = {"correct": all(r["correct"] for r in parts.values()),
                  "attempted": sum(r["attempted"] for r in parts.values()),
                  "failed": sum(r["failed"] for r in parts.values()),
                  "metrics": {f"{w}.{k}": v for w, r in parts.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
