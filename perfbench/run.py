#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage, from the repository root:

    python3 perfbench/run.py --workload dedup_heavy --seed 1 --seconds 20 --trace 0

The first run in a checkout compiles the engine sources (src/main/scala)
together with the harness (perfbench/src) through perfbench/build.sbt;
later runs reuse that build until a source file changes. Each run starts
one JVM, which times the workload and writes its raw result under
.bench_build/perfbench/runs/. This script prints every metric named in
BENCHMARK.json by name with its unit (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1), then, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}.

It exits non-zero without a result when the engine cannot be built or the
run fails.

With --record, the run instead digests each query of a query workload once
and stores the row counts and digests in perfbench/expected.json: the
reference results later runs check against. Record them only from a
commit whose results are known to be right.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("dedup_heavy", "sql_session")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# engine's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build_inputs():
    """Every file the build reads, as paths relative to the repository."""
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def build():
    """Compile engine + harness unless an identical build exists; return
    the runtime classpath and the digest of the build's inputs."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no engine sources at src/main/scala/graft; run from a full checkout")
    h = hashlib.sha256()
    for rel in build_inputs():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            if f.read() == h.hexdigest():
                return g.read(), h.hexdigest()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts + [os.environ.get("SBT_OPTS", "")]))
    log = os.path.join(WORK, "build.log")
    print("perfbench: building engine and harness", file=sys.stderr)
    with open(log, "w") as out:
        r = subprocess.run([sbt, "--batch", "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die(f"build failed (exit {r.returncode}):\n{tail(log)}")
    with open(log) as f:
        lines = [l.strip() for l in f if "perfbench" in l and os.pathsep in l
                 and not l.startswith("[")]
    if not lines:
        die(f"build printed no classpath:\n{tail(log)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1], h.hexdigest()


def run_jvm(classpath, a, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    if not java:
        die("java not found")
    result = os.path.join(run_dir, "result.json")
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--expected", EXPECTED, "--out", result,
            "--launched-ms", str(int(time.time() * 1000)),
            "--record", "1" if a.record else "0"]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"run exceeded {JVM_TIMEOUT_S} s:\n{tail(log)}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.exists(result):
        die(f"run failed (exit {code}):\n{tail(log)}")
    with open(result) as f:
        return json.load(f)


def untraced_median(workload, seconds, digest):
    """Median ops_per_s of this checkout's untraced runs of `workload` at
    the same run length, from the same build."""
    vals = []
    runs = os.path.join(WORK, "runs")
    for d in os.listdir(runs):
        path, stamp = (os.path.join(runs, d, n) for n in ("result.json", "build.stamp"))
        if not (d.startswith(workload + "-") and os.path.exists(path)
                and os.path.exists(stamp)):
            continue
        with open(stamp) as f, open(path) as g:
            if f.read() != digest:
                continue
            r = json.load(g)
        if r.get("trace") is False and r["seconds"] == seconds:
            vals.append(r["end_to_end"]["ops_per_s"])
    return (statistics.median(vals), len(vals)) if vals else (None, 0)


def report(spec, r, trace, digest):
    print(f"perfbench workload={r['workload']} seed={r['seed']} "
          f"seconds={r['seconds']} trace={int(trace)} cores={r['cores']} "
          f"passes={r['passes']} ops={r['attempted']}")
    source = r["per_layer"] if trace else r["end_to_end"]
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in source:
            die(f"the run did not measure {m['name']}")
        v = source[m["name"]]
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        note = ""
        if m["name"] == "latency_tail_ms":
            note = (f"  (p{r['tail_pct']} of {r['attempted']} samples, "
                    f"{r['tail_beyond']} beyond)")
        print(f"  {m['name']:<32} {v:>14.6g} {m['unit']}{note}")
    n, failed = r["attempted"], r["failed"]
    print(f"  {failed} of {n} operations failed or returned a wrong result")
    if trace:
        print("  self time per span (ms); an operation's self times sum to its span")
        for row in r["self_time"]:
            print(f"    {row['span']:<20} n={row['count']:<6} total={row['total_ms']:>10.1f}"
                  f"  self={row['self_ms']:>10.1f}")
        print(f"    largest gap between an op's span and its self-time sum: "
              f"{r['self_sum_gap_ms']:.6f} ms")
        base, k = untraced_median(r["workload"], r["seconds"], digest)
        traced = r["per_layer"]["trace.ops_per_s"]
        if base:
            print(f"  tracing overhead: {100 * (1 - traced / base):.1f}% "
                  f"(traced {traced:.4g} ops/s vs median {base:.4g} ops/s "
                  f"of {k} untraced runs of this build)")
        else:
            print("  tracing overhead: no untraced run of this workload and build yet")
    for op in r["ops"]:
        if not op["ok"]:
            print(f"  FAILED {op['name']}: {op['error'][:300]}")
    return {"correct": failed == 0, "attempted": n, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", action="store_true",
                    help="store the workload's query digests in perfbench/expected.json")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    classpath, digest = build()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-"
                           f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "build.stamp"), "w") as f:
        f.write(digest)
    r = run_jvm(classpath, a, run_dir)
    if a.record:
        known = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                known = json.load(f)
        known.update(r)
        with open(EXPECTED, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
            f.write("\n")
        print(json.dumps(r, indent=1, sort_keys=True))
        return
    out = report(spec, r, a.trace == 1, digest)
    if a.trace:
        print(f"  spans: {os.path.relpath(os.path.join(run_dir, 'result.json.spans.jsonl'), ROOT)}")
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
