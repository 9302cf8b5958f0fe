#!/usr/bin/env python3
"""The waldenspark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload analytic_batch --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Inputs are generated from
--seed (gen_data.py) under .bench_work/ in the checkout; the lake
warehouse and all scratch files of a run are removed when it ends.

Prints the run record and every metric by name and unit, then, as the
last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a traced phase (see perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("analytic_batch", "serve_mix", "lake_write")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Fingerprint of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath file matches the sources."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    # sbt's scratch files (server socket, native-library temp) go under
    # the checkout; only its launcher lock lives in the toolchain's home
    tmp = os.path.join(ROOT, ".bench_work", "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (f"-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g -XX:-UsePerfData "
                       f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "benchClasspath"]
    print("perfbench: building (sbt benchClasspath)", file=sys.stderr, flush=True)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
                       stdin=subprocess.DEVNULL)
    if p.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def dataset(sf, seed):
    """Generated tables for (sf, seed), cached for the latest seed only."""
    import gen_data
    base = os.path.join(ROOT, ".bench_work", "data")
    keep = f"sf{sf}-seed{seed}"
    if os.path.isdir(base):
        for d in os.listdir(base):
            if not d.endswith(f"-seed{seed}"):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return gen_data.generate(os.path.join(base, keep), sf, seed)


def git_commit():
    """The checkout's commit, from .git without running git."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(ROOT, ".git", *ref.split("/"))
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(ROOT, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown (not a git checkout)"


def run_jvm(cp, args, run_dir, data):
    result = os.path.join(run_dir, "result.json")
    cpus = str(os.cpu_count() or 1)
    mem_gb = 4
    cmd = ["java", *JVM_OPENS, f"-Xmx{mem_gb}g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data,
           "--work", os.path.join(run_dir, "jvm"), "--out", result]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus,
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    # the JVM's logs go to stderr; stdout stays for the result lines
    p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(result):
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")

    cp = build()
    data = dataset(0.01 if args.workload == "serve_mix" else 0.1, args.seed)
    run_dir = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(cp, args, run_dir, data)
        record = res["record"]
        record["git_commit"] = git_commit()
        attempted, failed = int(res["attempted"]), int(res["failed"])
        e2e = res["end_to_end"]
        extra = res["extra"]
        if args.workload == "analytic_batch":
            import oracle
            check_dir = os.path.join(run_dir, "analytic_check")
            with open(os.path.join(check_dir, "oracle_sql.json")) as f:
                oracles = json.load(f)
            with open(os.path.join(check_dir, "ops.json")) as f:
                ops = json.load(f)
            verdicts = oracle.compare(data, check_dir, oracles)
            for name, v in verdicts.items():
                record[f"check.{name}"] = f"oracle {v}"
                if v != "ok":
                    failed += ops[name]
                    res["timed_ok"] -= ops[name]
            e2e["throughput_qps"]["value"] = res["timed_ok"] / res["timed_s"]
            extra["error_rate"]["value"] = failed / attempted
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"trace {args.trace}")
    for k, v in record.items():
        print(f"  {k}: {v}")
    print(f"  error_rate: {failed}/{attempted}")
    groups = [("end-to-end", e2e), ("workload", extra)]
    if args.trace:
        groups.append(("per-layer (traced phase)", res["per_layer"]))
    for title, ms in groups:
        print(title)
        for k, m in ms.items():
            print(f"  {k:34s} {m['value']!s:>24} {m['unit']}")
    metrics = res["per_layer"] if args.trace else e2e
    final = {"correct": failed == 0, "attempted": attempted, "failed": failed,
             "metrics": metrics}
    # the whole run (record, every metric) stays in the checkout
    res.update(final)
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(res, f, indent=1)
    print(json.dumps(final))


if __name__ == "__main__":
    main()
