#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <pca_wide|ops_driver>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script
  1. compiles the program (src/main) and the harness (perfbench/src)
     with the Scala compiler shipped in Spark's jars, into
     .bench_build/perfbench/classes-<source digest> (reused while the
     sources are unchanged);
  2. generates the workload's inputs from the seed (gen.py);
  3. runs the harness JVM (perfbench.Harness) on local[cpus];
  4. checks every output: each query result against its DuckDB oracle,
     the PCA checks inside the harness;
  5. prints a metadata line, then one JSON object with `correct`,
     `attempted`, `failed` and `metrics` (end-to-end metrics with
     --trace 0, per-layer metrics with --trace 1, as BENCHMARK.json
     lists them).
The generated inputs and query outputs are deleted at the end; the
harness's result.json (and spans.jsonl of a traced run) are kept in
.bench_build/perfbench/last/<workload>/.

Environment: SPARK_GRAFT_CPUS (local cores, default 4, capped at nproc),
SPARK_DRIVER_MEM (JVM heap, default 4g), SPARK_HOME (Spark install whose
jars/ to use; default: the `unmanagedBase` that build.sbt compiles against),
PERFBENCH_ROOT (checkout to measure, default: the one holding this file).
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

T_START = time.monotonic()
# the checkout whose program is measured (compare.py points this at
# another checkout to run the same benchmark code against it)
ROOT = os.path.abspath(os.environ.get("PERFBENCH_ROOT", os.path.dirname(HERE)))
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# workload -> fixture scale factor (None: the pca_wide matrix instead)
WORKLOADS = {"pca_wide": None, "ops_driver": 0.01}
# largest accepted gap between an operation's traced span sum and its
# untraced wall time (both medians over the run's warm executions)
RECONCILE_TOL = 0.25
# a run must end within 180 s after the build; leave room for checks
JVM_DEADLINE_S = 160
ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spec():
    with open(SPEC) as f:
        return json.load(f)


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        raise SystemExit(f"no Spark jars under {jars}")
    return jars, found


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    prog = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit(f"program sources not found under {main}")
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src", "main",
                                                   "resources", "**"),
                                      recursive=True) if os.path.isfile(p))
    harness = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"),
                               recursive=True))
    return prog, res, harness


def digest_files(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT if p.startswith(ROOT) else HERE).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    comp = [glob.glob(os.path.join(jars, f"scala-{n}-2.*.jar"))[0]
            for n in ("compiler", "library", "reflect")]
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    try:
        subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
                        "-cp", ":".join(comp),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath",
                        classpath, "-d", out, "@" + argfile],
                       check=True, stdout=sys.stderr)
    finally:
        os.remove(argfile)


def build():
    """Compile program + harness once per source digest."""
    prog, res, harness = sources()
    jars, jar_files = spark_jars()
    key = digest_files(prog + res + harness)[:16]
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.exists(os.path.join(out, ".complete")):
        return out, jars, key
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    t0 = time.monotonic()
    spark_cp = ":".join(jar_files)
    scalac(jars, spark_cp, out, prog)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(out, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    scalac(jars, spark_cp + ":" + out, out, harness)
    open(os.path.join(out, ".complete"), "w").close()
    print(f"[perfbench] built {key} in {time.monotonic() - T_START:.1f}s "
          f"(compile {time.monotonic() - t0:.1f}s)", file=sys.stderr)
    return out, jars, key


def cpus():
    want = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    return max(1, min(want, os.cpu_count() or 1))


def run_harness(classes, jars, a, data, out, ncpu, t_built):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = os.environ.get('SPARK_DRIVER_MEM', '4g')
    # parallel collector and a fixed heap: with G1 and a growing heap,
    # whole runs of the same code came out up to 40% slow
    cmd = (["java", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for o in ADD_OPENS for x in ("--add-opens", o)]
           + ["-cp", f"{classes}:{jars}/*", "perfbench.Harness",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), data,
              out, str(ncpu)])
    log_path = os.path.join(out, "harness.log")
    budget = JVM_DEADLINE_S - (time.monotonic() - t_built)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=out)
        try:
            code = proc.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise SystemExit(f"harness failed ({code})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def calibrate():
    """Fixed-cost CPU probe (min of 5), taken before and after the run in
    this process, so a loaded box shows up as drift."""
    def once():
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        return time.perf_counter() - t0
    return min(once() for _ in range(5))


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (None where it is absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def commit():
    """HEAD of the measured checkout, or None when it is not a git clone
    (the source digest identifies the program then)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def result_line(b, trace, harness_metrics, attempted, failed):
    """The final JSON object: every metric BENCHMARK.json lists for this
    mode, with its unit. Per-layer metrics a workload does not exercise
    (e.g. ml.* on the query workloads) are reported as 0. Also returns the
    problems that make the run incorrect besides failed operations: a
    missing metric, or a traced run whose spans do not reconcile with
    the untraced wall time within RECONCILE_TOL."""
    names = b["per_layer"] if trace else b["end_to_end"]
    metrics, problems = {}, []
    for m in names:
        v = harness_metrics.get(m["name"])
        if m["name"] == "fail_frac":
            v = failed / attempted
        if v is None and trace:
            v = 0.0
        if v is None or not math.isfinite(v):
            problems.append(f"metric {m['name']} missing")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    gap = harness_metrics.get("trace.reconcile_err")
    if trace and (gap is None or gap > RECONCILE_TOL):
        problems.append(f"traced spans do not reconcile with the untraced wall "
                        f"time: largest per-operation gap {gap} > {RECONCILE_TOL}")
    return {"correct": failed == 0 and not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}, problems


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    b = spec()
    classes, jars, key = build()
    t_built = time.monotonic()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(out)
    try:
        calib = calibrate()
        t0 = time.monotonic()
        meta = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
                "commit": commit(), "source_digest": key}
        if a.workload == "pca_wide":
            os.makedirs(data)
            meta["input_digest"] = gen.pca_matrix(a.seed, os.path.join(data, "pca.parquet"))
        else:
            meta["sf"] = WORKLOADS[a.workload]
            gen.fixtures(a.seed, meta["sf"], os.path.join(data, "fixtures"))
        meta["gen_s"] = time.monotonic() - t0
        ticks = cpu_ticks()
        res = run_harness(classes, jars, a, data, out, cpus(), t_built)
        meta["cpu_steal_frac"] = steal_frac(ticks, cpu_ticks())
        # set-up: input generation, then the harness JVM from its start
        # until the session is up and the inputs have been scanned once
        res["metrics"]["setup_s"] = meta["gen_s"] + res["meta"]["jvm_setup_s"]
        ops = res["ops"]
        if a.workload != "pca_wide":
            check.check_queries(os.path.join(data, "fixtures"), out, ops)
        meta.update(res["meta"])
        failures = [o for o in ops if o["error"]]
        meta["failures"] = [f"{o['name']}/{o['phase']}-{o['iter']}: {o['error']}"
                            for o in failures][:20]
        line, problems = result_line(b, a.trace, res["metrics"], len(ops),
                                     len(failures))
        meta["failures"] += problems
        m = res["metrics"]
        if a.trace and "trace.reconcile_err" in m:
            gap = m["trace.reconcile_err"]
            print(f"[perfbench] {a.workload}: tracing overhead "
                  f"{m['trace.overhead_frac']:+.1%} (untraced warm "
                  f"{m['trace.untraced_warm_s']:.3f}s, traced "
                  f"{m['trace.traced_warm_s']:.3f}s); largest per-operation gap "
                  f"{gap:.1%} ({'within' if gap <= RECONCILE_TOL else 'OUTSIDE'} "
                  f"the {RECONCILE_TOL:.0%} tolerance)")
        meta["calib_before_s"], meta["calib_after_s"] = calib, calibrate()
        meta["calib_drift"] = abs(1.0 - meta["calib_after_s"] / calib)
        meta["wall_s"] = time.monotonic() - T_START
        print(json.dumps({"meta": meta}))
        print(json.dumps(line))
    finally:
        last = os.path.join(BUILD, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for name in ("result.json", "spans.jsonl", "harness.log"):
            if os.path.exists(os.path.join(out, name)):
                shutil.copy(os.path.join(out, name), last)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
