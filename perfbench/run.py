#!/usr/bin/env python3
"""Benchmark of the graft library: one run of one named workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads and their query lists live in `perfbench/workloads.json`.
A run builds the library and the harness from source with sbt (once per
checkout; later runs reuse the build while no source changed), makes
the workload's input, starts one JVM with `local[<cores>]`, and measures
there (`perfbench/src/main/scala/perfbench/Main.scala`). It then checks
the results the warm-up pass dumped with the unchanged
`tools/oracle_check.py` against the same input, and prints one JSON line
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones, and also writes the span trace to
`perfbench/.work/traces/<workload>-seed<n>.json`.

Everything the run writes stays under `perfbench/.work/`.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
ORACLE_CHECK = os.path.join(ROOT, "tools", "oracle_check.py")
DEADLINE_S = 170.0

sys.path.insert(0, HERE)
import gen  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp():
    """Fingerprint of every input of the build."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (LIB_SRC, HARNESS_SRC, os.path.join(ROOT, "project"),
                 os.path.join(HERE, "project")):
        for d, subdirs, names in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles library + harness; returns the runtime classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building library and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")]
    if not lines:
        fail("sbt printed no classpath")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t:.0f} s")
    return classpath


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_opts(work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    opts = []
    for p in opens:
        opts += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return opts + [
        "-Xms2g", "-Xmx2g", "-Xmn768m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
    ]


def oracle_check(input_dir, dump_dir, names, timeout):
    """Runs tools/oracle_check.py; returns {query: ok}."""
    p = subprocess.run([sys.executable, ORACLE_CHECK, input_dir, dump_dir],
                       cwd=dump_dir, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=timeout)
    seen = {}
    for line in p.stdout.splitlines():
        m = re.match(r"^(\S+): (OK|FAIL|ORACLE-ERR|NO-ORACLE)", line)
        if m:
            seen[m.group(1)] = m.group(2) == "OK"
            if m.group(2) != "OK":
                log(f"oracle: {line}")
    if p.returncode != 0:
        log(p.stderr[-2000:])
    return {n: seen.get(n, False) for n in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)["workloads"].get(args.workload)
    if spec is None:
        fail(f"unknown workload {args.workload}")
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")) or not os.path.isfile(ORACLE_CHECK):
        fail("library sources not found next to perfbench/; run from a full checkout")

    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    started = time.time()  # the build is not part of the run's 180 s

    work = os.path.join(WORK, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "dump"):
        os.makedirs(os.path.join(work, d))
    probes = os.path.join(HERE, "data", "sf0.01")
    if "generated_multiple" in spec:
        input_dir = os.path.join(work, "input")
        gen.write(input_dir, args.seed, spec["generated_multiple"])
    else:
        input_dir = os.path.join(HERE, spec["input"])
    trace_out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    result_file = os.path.join(work, "result.json")

    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    cmd = ["java"] + jvm_opts(work) + ["-cp", classpath, "perfbench.Main",
        f"workload={args.workload}", f"seed={args.seed}",
        f"seconds={args.seconds}", f"trace={args.trace}",
        f"queries={','.join(spec['queries'])}", f"sink={spec['sink']}",
        f"permute={'true' if spec['permute_order'] else 'false'}",
        f"warm_passes={spec['warm_passes']}", f"pass_s={spec['nominal_pass_s']}",
        f"input={input_dir}", f"probes={probes}", f"work={work}",
        f"result={result_file}", f"trace_out={trace_out}"]
    try:
        p = subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, timeout=DEADLINE_S - (time.time() - started))
    except subprocess.TimeoutExpired:
        fail("benchmark JVM exceeded its time limit")
    if p.returncode != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited with {p.returncode}")
    with open(result_file) as f:
        res = json.load(f)

    log(f"JVM done after {time.time() - started:.1f} s")
    checks = oracle_check(input_dir, os.path.join(work, "dump"), res["dumped"],
                          max(5.0, DEADLINE_S - (time.time() - started)))
    mismatches = sum(1 for ok in checks.values() if not ok)
    # Every query run and every oracle comparison is one attempt.
    attempted = res["attempted"] + len(checks)
    failed = res["failed_runs"] + mismatches

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    measured = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    log(f"passes={res['passes']} pass_walls_s={res['pass_walls_s']} "
        f"oracle={len(checks) - mismatches}/{len(checks)} ok, "
        f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
