#!/usr/bin/env python3
"""Benchmark of the graft engine: both reference streaming jobs and a batch
query mix, driven through the program's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles `src/main/scala` and
`perfbench/scala` into `.bench_build/perfbench`, writes the seeded inputs,
runs one JVM at `local[$SPARK_GRAFT_CPUS]` (default: every core), checks
every result against a reference (plain Python for the streaming jobs,
DuckDB over `SparkEntry.oracleSql` for the batch queries) and prints one
JSON line last: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. The full record (meta, raw samples, spans, the
per-group listener counts, every per-layer number) is written under
`.bench_build/perfbench/records/`. Workloads and their parameters are in
`perfbench/workloads.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

JVM_TIMEOUT_S = 170


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in workloads:
        sys.exit(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    w = workloads[a.workload]
    sources = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        sys.exit("no src/main/scala here: run from the root of a checkout")
    jars = spark_jars()
    classes = build(root, jars, sources)

    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t_start = time.time()
    try:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
        spec = {"kind": w["kind"], "workload": a.workload, "seed": a.seed, "cores": cores,
                "trace": a.trace, "work": work, "result": os.path.join(work, "result.json")}
        if w["kind"] == "stream":
            inputs = make_stream_inputs(w, a.seed, a.seconds, work, spec)
        else:
            spec.update(batch_spec(w, a.seed, root, work))
        t_jvm, cpu0 = time.time(), cpu_jiffies()
        raw = run_jvm(root, jars, classes, work, spec)
        t_check, cpu1 = time.time(), cpu_jiffies()
        if w["kind"] == "stream":
            rec = layers.stream_record(w, spec, raw, inputs, work)
        else:
            rec = layers.batch_record(w, spec, raw, oracle.check(root, w, work, raw))
        rec["meta"] = meta(root, classes, cores, a, raw)
        t0 = raw["timeline"][0][1] if raw["timeline"] else 0
        rec["timeline_s"] = [(n, round((b - t0) / 1000, 3), round((e - t0) / 1000, 3))
                             for n, b, e in raw["timeline"]]
        rec["wall_s"] = {"inputs": round(t_jvm - t_start, 3), "jvm": round(t_check - t_jvm, 3),
                         "checks": round(time.time() - t_check, 3)}
        # share of the JVM's wall time the hypervisor gave this machine's
        # CPUs to other guests: records taken under heavy steal read slow
        if cpu0 and cpu1:
            rec["meta"]["host_steal_share"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        os.makedirs(os.path.join(base, "records"), exist_ok=True)
        path = os.path.join(base, "records", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as f:
            json.dump(rec, f, indent=1, sort_keys=True)
        print(f"record: {os.path.relpath(path, root)}")
        for line in rec["problems"]:
            print(f"problem: {line}")
        metrics = rec["per_layer"] if a.trace else rec["end_to_end"]
        print(json.dumps({
            "correct": rec["failed"] == 0 and not rec["problems"],
            "attempted": rec["attempted"],
            "failed": rec["failed"],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        return os.path.join(os.path.dirname(pyspark.__file__), "jars")
    except ImportError:
        sys.exit("no Spark jars: set SPARK_HOME")


def build(root, jars, sources):
    """Compile the program and the benchmark with the Scala compiler that
    ships in Spark's jars; reuse the output while the sources are unchanged."""
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for p in sources + bench:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, ".bench_build", "perfbench", f"classes-{h.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp] + sources + bench,
                       capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit("build failed")
    os.rename(tmp, out)
    print(f"built {len(sources) + len(bench)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def make_stream_inputs(w, seed, seconds, work, spec):
    """Write every phase's files; returns the generated phases. Each of the
    `rounds` live phases gets its own inputs, staging and source directory,
    and its share of the live time."""
    p, n, rounds = w["input"], w["files"], w["rounds"]
    phase_fn = gen.media_phase if w["job"] == "media" else gen.items_phase
    tick_ms = 1000.0 * p["rows_per_file"] / w["live"]["rows_per_s"]
    n_live = max(w["live"]["min_files"],
                 round(seconds * w["live"]["seconds_share"] * 1000 / tick_ms))
    per_round = -(-n_live // rounds)
    phases = {
        "setup": phase_fn(seed, "setup", p, n["setup"]),
        "warm": phase_fn(seed, "warm", p, n["warm"], late=True),
        "drain": phase_fn(seed, "drain", p, n["drain"], late=True),
    }
    for r in range(1, rounds + 1):
        # file 0 primes the query
        phases[f"live{r}"] = phase_fn(seed, f"live{r}", p, per_round + 1)
    now = time.time()
    for name, ph in phases.items():
        key = name.replace("live", "stage")
        d = os.path.join(work, "in", key)
        os.makedirs(d)
        for i, lines in enumerate(ph.lines):
            f = os.path.join(d, f"part-{i:05d}.txt")
            with open(f, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            # the file source takes files oldest first: make that file order
            t = now - 3600 + i
            os.utime(f, (t, t))
        spec[f"dir.{key}"] = d
        if name.startswith("live"):
            spec[f"dir.{name}"] = os.path.join(work, "in", name)
            os.makedirs(spec[f"dir.{name}"])
    spec["job"] = w["job"]
    spec["tick_ms"] = tick_ms
    spec["rounds"] = rounds
    return phases


def batch_spec(w, seed, root, work):
    names = list(w["queries"])
    random.Random(f"batch:{seed}").shuffle(names)
    dump = os.path.join(work, "dump")
    os.makedirs(dump)
    return {"sf_dir": os.path.join(root, w["sf_dir"]), "queries": ",".join(names),
            "passes": w["passes"], "dump": dump}


def run_jvm(root, jars, classes, work, spec):
    spec_path = os.path.join(work, "spec.properties")
    with open(spec_path, "w") as f:
        for k, v in spec.items():
            f.write(f"{k}={str(v).replace(chr(92), '/')}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ["java", *ADD_OPENS, "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main", spec_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        sys.exit(f"benchmark JVM failed ({code})")
    with open(spec["result"]) as f:
        return json.load(f)


# Spark 4 on JDK 17 outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def cpu_jiffies():
    """(all, steal) CPU jiffies since boot from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


def meta(root, classes, cores, a, raw):
    """What a record needs to be compared with another: code, host, seed."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10).stdout.split()
        commit = out[1] if len(out) == 2 and os.path.samefile(out[0], root) else None
    except OSError:
        commit = None
    return {"commit": commit, "build": os.path.basename(classes),
            "nproc": len(os.sched_getaffinity(0)), "spark_graft_cpus": cores,
            "jdk": raw.get("jdk"), "spark_version": raw.get("spark_version"),
            "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "workload": a.workload, "python": sys.version.split()[0],
            "taken_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


if __name__ == "__main__":
    main()
