#!/usr/bin/env python3
"""Repo benchmark: build the program from source, run one workload, check
its outputs, and print one JSON result line.

Run from the root of a checkout:

    python3 repobench/run.py --workload query_mix --seed 1 --seconds 20 --trace 0

Workloads: query_mix, table_churn (see repobench/README.md).
With --trace 0 the result carries the end-to-end metrics; with --trace 1
the per-layer metrics of a traced run. Build output goes to
$CARGO_TARGET_DIR (default .bench_build), scratch files to .bench_work;
both are under the checkout and nothing else is written.
"""
import argparse
import hashlib
import json
import math
import os
import re
import resource
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("query_mix", "table_churn")
# the wall budget of one run once the program is built (the contract
# allows 180 s; leave room for JVM teardown and cleanup)
RUN_BUDGET_S = 165
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[repobench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"ERROR: {msg}")
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the Spark jar directory the sbt build
    compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        fail("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def program_sources():
    """(scala/java sources, resource files) of the program under src/main."""
    main = os.path.join(ROOT, "src", "main")
    srcs, res = [], []
    for base, _, files in os.walk(main):
        for f in sorted(files):
            p = os.path.join(base, f)
            if os.path.relpath(p, main).startswith("resources" + os.sep):
                res.append(p)
            elif f.endswith((".scala", ".java")):
                srcs.append(p)
    return sorted(srcs), sorted(res)


def bench_sources():
    d = os.path.join(HERE, "scala")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".scala"))


def scalac(out, classpath, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + files
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        fail(f"compilation into {out} failed")


def build():
    """Compiles the program and the harness, keyed by a hash of every
    source; returns the classpath entries."""
    srcs, res = program_sources()
    if not srcs:
        fail("no program sources under src/main (run from the root of a checkout)")
    bench = bench_sources()
    h = hashlib.sha256()
    for p in srcs + res + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(target, "repobench-" + h.hexdigest()[:16])
    app, harness = os.path.join(out, "app"), os.path.join(out, "bench")
    if os.path.exists(os.path.join(out, "OK")):
        return [app, harness]
    t0 = time.time()
    shutil.rmtree(out, ignore_errors=True)
    jars = f"{spark_jars()}/*"
    scalac(app, jars, srcs)
    java = [p for p in srcs if p.endswith(".java")]
    if java:
        r = subprocess.run(["javac", "-nowarn", "-d", app, "-cp", f"{app}:{jars}"] + java, cwd=ROOT)
        if r.returncode != 0:
            fail("javac failed")
    main_res = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(app, os.path.relpath(p, main_res))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(harness, f"{app}:{jars}", bench)
    with open(os.path.join(out, "OK"), "w") as f:
        f.write(f"{time.time() - t0:.1f}\n")
    log(f"built {out} in {time.time() - t0:.1f} s")
    return [app, harness]


def jvm_cmd(cp, work):
    """The harness JVM: explicit heap from MemTotal, every scratch path
    inside `work`, quiet logging."""
    heap = heap_gb()
    return (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            [f"-Xmx{heap}g", f"-Xms{heap}g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC",
             # the in-process HTTP stub answers without Nagle delays
             "-Dsun.net.httpserver.nodelay=true"] +
            ["-cp", ":".join(cp + [f"{spark_jars()}/*"]), "repobench.Main"])


def heap_gb():
    """A quarter of MemTotal, between 2 and 6 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(6, kb // (4 * 1024 * 1024)))


def cpu_probe_ms():
    """Fixed-work CPU probe: best of three hashes of 16 MiB."""
    buf = b"\x5a" * (16 << 20)
    best = math.inf
    for _ in range(3):
        t = time.perf_counter()
        hashlib.sha256(buf).digest()
        best = min(best, (time.perf_counter() - t) * 1000)
    return best


def cpu_jiffies():
    """(total, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a TERM becomes SystemExit, so the harness JVM is killed below too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    t_start = time.time()
    nproc = len(os.sched_getaffinity(0))
    heap = heap_gb()
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    noise = {"load1_before": os.getloadavg()[0], "probe_ms_before": cpu_probe_ms()}
    cpu0 = cpu_jiffies()
    cmd = (jvm_cmd(cp, work) + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--nproc", str(nproc), "--bench-dir", HERE])
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    err_path = os.path.join(work_root, f"{a.workload}-{os.getpid()}.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_BUDGET_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            kill_group(proc)
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_BUDGET_S} s; log in {err_path}", 3)
        except BaseException:
            kill_group(proc)
            raise
    wall = time.time() - t_start
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    own_cpus = (ru1.ru_utime + ru1.ru_stime - ru0.ru_utime - ru0.ru_stime) / max(wall, 1e-9)
    cpu1 = cpu_jiffies()
    noise.update(load1_after=os.getloadavg()[0], probe_ms_after=cpu_probe_ms(),
                 own_cpus=round(own_cpus, 2), nproc=nproc, heap_gb=heap, wall_s=round(wall, 1),
                 steal_pct=round(100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), 2))
    # load that arrived during the run: the hypervisor stole CPU time, or
    # the fixed-work probe got slower; a host already busier than its
    # CPUs at the start is flagged too (the load average alone cannot
    # separate this run's own runnable threads from others')
    noise["contended"] = bool(noise["load1_before"] > nproc
                              or noise["steal_pct"] > 10
                              or noise["probe_ms_after"] > 1.3 * noise["probe_ms_before"])
    shutil.rmtree(work, ignore_errors=True)

    with open(err_path) as f:
        lines = f.read().splitlines()
    for l in lines:
        if l.startswith("[repobench]"):
            print(l, file=sys.stderr)
    result = next((json.loads(l[len("REPOBENCH_RESULT "):]) for l in reversed(out.splitlines())
                   if l.startswith("REPOBENCH_RESULT ")), None)
    if proc.returncode != 0 or result is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"harness exited with {proc.returncode}; log in {err_path}", 4)
    os.remove(err_path)

    log("noise: " + json.dumps(noise))
    metrics = result["metrics"]
    p50_key = "trace.op_p50_ms" if a.trace == "1" else "op_p50_ms"
    p50 = metrics[p50_key]["value"]
    untraced = os.path.join(work_root, f"untraced_{a.workload}.json")
    if a.trace == "0":
        with open(untraced, "w") as f:
            json.dump({"op_p50_ms": p50, "seed": a.seed}, f)
    elif os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["op_p50_ms"]
        log(f"tracing overhead: traced op p50 {p50:.1f} ms vs untraced {base:.1f} ms "
            f"({100.0 * (p50 / base - 1):+.1f}%)")
    else:
        log("tracing overhead: no untraced run of this workload in this checkout yet")
    with open(os.path.join(work_root, f"last_{a.workload}_trace{a.trace}.json"), "w") as f:
        json.dump({"seed": a.seed, "noise": noise, "result": result}, f, indent=1)

    ok = all(isinstance(m.get("value"), (int, float)) and math.isfinite(m["value"])
             for m in metrics.values())
    print(json.dumps({"correct": bool(result["correct"] and ok),
                      "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
