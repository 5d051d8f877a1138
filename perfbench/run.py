#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

A single workload prints a metric table and, as its last line, one JSON
object with the keys correct, attempted, failed and metrics: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. `--workload all` runs every workload untraced
and then traced, and also reports the tracing overhead.

The first run compiles the library at the repository root together with
the benchmark (an sbt build in this directory) and caches the classpath;
later runs start the JVM directly. Every file the benchmark writes stays
under perfbench/out and perfbench/target.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CP_FILE = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ["lake", "curate"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "2g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the list spark-submit itself passes).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", "project/build.properties"):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile with sbt (offline) unless the cached classpath is newer
    than every source and build file."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the graft sources (../build.sbt, ../src) are not next to the benchmark")
    if os.path.isfile(CP_FILE):
        built = os.path.getmtime(CP_FILE)
        if all(not os.path.exists(f) or os.path.getmtime(f) < built for f in sources()):
            with open(CP_FILE) as fh:
                return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export perfbench/Runtime/fullClasspath"]
    print("perfbench: building (first run in this checkout)", file=sys.stderr)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                       text=True)
    sys.stderr.write(p.stdout[-4000:])
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as fh:
        fh.write(cp)
    return cp


def run_jvm(cp, workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; return its run record."""
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={OUT}/tmp",
              f"-Dspark.local.dir={OUT}/spark-local",
              f"-Dspark.sql.warehouse.dir={OUT}/warehouse",
              f"-Dderby.system.home={OUT}/derby",
              f"-Dspark.hadoop.hadoop.tmp.dir={OUT}/hadoop-tmp",
              # the SQL surface of versioned tables
              "-Dspark.sql.catalog.graft=graft.sources.VtCatalog",
              ]
           # traced runs count file-system calls (see CountingFs.scala)
           + (["-Dspark.hadoop.fs.file.impl=perfbench.CountingFs"] if trace else [])
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--out", OUT])
    log = os.path.join(OUT, f"jvm-{workload}-seed{seed}-t{int(trace)}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{workload} did not finish within {RUN_TIMEOUT_S} s (log: {log})")
    rec = [l for l in stdout.splitlines() if l.startswith("RECORD ")]
    if p.returncode != 0 or not rec:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        die(f"{workload} exited with {p.returncode} (log: {log})")
    with open(rec[-1][len("RECORD "):]) as fh:
        return json.load(fh)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def table(rec, section):
    for name, m in rec[section].items():
        v = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {name:36s} {v:>16s} {m['unit']:8s} n={m['n']}")


def wrong_answers(rec):
    return sum(1 for e in rec["errors"] if not e.startswith("op "))


def result(rec, trace, bench):
    section = "per_layer" if trace else "end_to_end"
    names = [m["name"] for m in bench[section]]
    metrics = {}
    for n in names:
        # workload-specific end-to-end metrics are listed with the layers
        m = rec[section].get(n, rec["end_to_end"].get(n) if trace else None)
        if m is None:
            if trace:  # a layer or metric this workload does not have
                metrics[n] = {"value": 0, "unit": next(
                    x["unit"] for x in bench[section] if x["name"] == n)}
                continue
            die(f"metric {n} missing from the {rec['workload']} record")
        if m["value"] is None:
            die(f"metric {n} is undefined on {rec['workload']}")
        metrics[n] = {"value": m["value"], "unit": m["unit"]}
    return {"correct": bool(rec["correct"]), "attempted": int(rec["attempted"]),
            "failed": int(rec["failed"]) + wrong_answers(rec), "metrics": metrics}


def show(rec):
    print(f"{rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
          f"ops={rec['attempted']} failed={rec['failed']} correct={rec['correct']}")
    for e in rec["errors"][:10]:
        print(f"  ERROR {e}")
    print(" end-to-end:")
    table(rec, "end_to_end")
    if rec["trace"]:
        print(" per layer:")
        table(rec, "per_layer")
    env = rec["env"]
    print(f" env: nproc={env['nproc']} load start={env['start']['loadavg']!r} "
          f"end={env['end']['loadavg']!r} others_cpu={env['others_cpu_share']:.3f} "
          f"steal={env['steal_share']:.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    bench = spec()
    cp = build()
    if a.workload != "all":
        rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace == 1)
        show(rec)
        print(json.dumps(result(rec, a.trace == 1, bench)))
        return
    summary = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain = run_jvm(cp, w, a.seed, a.seconds, False)
        traced = run_jvm(cp, w, a.seed, a.seconds, True)
        show(plain)
        show(traced)
        print(" tracing overhead (traced - untraced):")
        for n in ("throughput_ops_s", "latency_p50_ms", "latency_p90_ms"):
            u, t = plain["end_to_end"][n]["value"], traced["end_to_end"][n]["value"]
            print(f"  {n:36s} {t - u:>+16.6g} ({(t - u) / u:+.1%})")
        for rec in (plain, traced):
            summary["correct"] &= bool(rec["correct"])
            summary["attempted"] += int(rec["attempted"])
            summary["failed"] += int(rec["failed"]) + wrong_answers(rec)
        for n, m in result(plain, False, bench)["metrics"].items():
            summary["metrics"][f"{w}.{n}"] = m
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
