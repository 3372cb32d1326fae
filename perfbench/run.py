#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and the
benchmark from source with the engine's own Scala compiler into
.bench_build/perfbench; later runs reuse that build while the sources are
unchanged. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["swath-resample", "curation-dedup", "query-mix"]
RUN_LIMIT_S = 170

# The fixed query pool of query-mix: one of the cheaper queries of each
# family of the suite, and q13 whose cost is nearly all fixed overhead. The
# seed picks the data and the order.
QUERY_POOL = [
    "q41_bucket_stere", "q14_knn_nearest", "q32_gradient_bilinear",
    "q23_dedup_exact", "q30_cosine_sim", "q189_weighted_hops", "q27_token_stats",
    "q13_area_grid",
]

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; on timeout kill the group
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def engine_jars():
    """The jar directory the root build compiles the engine against (its
    `unmanagedBase`). It also holds the Scala compiler and library of the
    engine's Scala version, which the benchmark builds with."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    if not (base and version):
        fail("build.sbt names no unmanagedBase jar directory or scalaVersion")
    jars = sorted(glob.glob(os.path.join(base.group(1), "*.jar")))
    if not any(os.path.basename(j) == f"scala-compiler-{version.group(1)}.jar" for j in jars):
        fail(f"no scala-compiler-{version.group(1)}.jar in {base.group(1)}")
    return jars


def sources():
    """Every source the benchmark is built from: the engine's main sources
    and the benchmark's own."""
    found = []
    for r in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, fs in os.walk(r):
            found += [os.path.join(d, f) for f in fs]
    return sorted(found)


def build(deadline):
    """Compile the engine and the benchmark once per source state with the
    engine's own Scala compiler, in one scalac pass, into the build dir;
    return the runtime classpath. Nothing outside the checkout is written
    and no build tool state is needed."""
    jars = engine_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in [os.path.join(ROOT, "build.sbt")] + srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, f"classes-{h.hexdigest()[:16]}")
    resources = os.path.join(ROOT, "src", "main", "resources")
    cp = os.pathsep.join([classes] + ([resources] if os.path.isdir(resources) else []) + jars)
    if os.path.exists(os.path.join(classes, "BUILT")):
        return cp, False
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(classes)
    scala = [p for p in srcs if p.endswith(".scala")]
    argfile = os.path.join(BUILD, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars)] + scala))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_group(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={BUILD}", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + argfile],
                       deadline - time.time(), cwd=BUILD, stdout=out, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (exit {rc}), log in {log}")
    open(os.path.join(classes, "BUILT"), "w").close()
    return cp, True


def oracle_check(tables, out_dir, deadline):
    """Check each query's Spark result against DuckDB running its oracle SQL
    on the same tables, with the repo's own checker, tools/check_oracle.py.
    Returns the queries it passed and its output lines for the others."""
    log = os.path.join(out_dir, "oracle.log")
    with open(log, "w") as out:
        run_group([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), tables, out_dir],
                  deadline - time.time(), cwd=out_dir, stdout=out, stderr=subprocess.STDOUT)
    passed, lines = set(), []
    with open(log) as f:
        for line in f:
            word = line.split()
            if len(word) >= 2 and word[0] == "OK":
                passed.add(word[1])
            elif word and word[0] in ("MISSING", "ERROR", "SCHEMA", "ROWS", "VALUE"):
                lines.append(line.strip())
    return passed, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    # a run that builds may take 900 s, any other 180 s
    cp, built = build(start + 880)
    deadline = start + (880 if built else RUN_LIMIT_S)

    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    traces = os.path.join(BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "out.json")]
        tables = os.path.join(work, "tables")
        if a.workload == "query-mix":
            sys.path.insert(0, HERE)
            import gen_tables
            gen_tables.write_tables(tables, a.seed)
            args += ["--tables", tables, "--pool", ",".join(QUERY_POOL)]
        cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
        for p in JDK17_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main"] + args
        # Spark binds to loopback only, whether or not the host name resolves
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as out:
            rc = run_group(cmd, deadline - time.time(),
                           cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0 or not os.path.exists(os.path.join(work, "out.json")):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM failed (exit {rc})")
        with open(os.path.join(work, "out.json")) as f:
            res = json.load(f)
        failures = list(res["failures"])
        failed = res["failed"]
        if a.workload == "query-mix":
            ran = [o["name"] for o in res["detail"]["ops"] if o["ok"]]
            passed, lines = oracle_check(tables, work, deadline)
            bad = sorted(set(ran) - passed)
            failed += sum(1 for q in ran if q in bad)
            failures += [f"{q}: oracle check failed" for q in bad] + lines[:20]
        for name in os.listdir(work):
            if name.startswith("trace-"):
                shutil.move(os.path.join(work, name), os.path.join(traces, name))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    d = res["detail"]
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: {res['attempted']} operations "
          f"({failed} failed) in {d['rounds']} rounds, {d['wall_s']:.2f} s after a {d['warmup_s']:.2f} s "
          f"warm-up round; inputs {d['prepare_s']:.2f} s, checks {d['check_s']:.2f} s; "
          f"setup runs {d['setup_runs_s']}; peak heap {d['peak_heap_mb']:.0f} MB; "
          f"op latency p50 {d['op_p50_s']:.3f} s")
    if d.get("op_tail_pct") is not None:
        print(f"op latency p{100 * d['op_tail_pct']:.1f} = {d['op_tail_s']:.3f} s "
              f"over {d['ops_timed']} operations")
    print("operations: " + ", ".join(f"{o['name']} {o['wall_s']:.2f}s" for o in d["ops"][:60]))
    for m in failures[:20]:
        print(f"FAILED {m}")
    for k, v in res["metrics"].items():
        print(f"  {k} = {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and not failures, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
