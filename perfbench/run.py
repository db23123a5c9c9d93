#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload shelve|ingest|catalog --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness from
source once (sbt, offline; the classpath is cached under .bench_build keyed
by a hash of the sources), generates the seeded inputs, runs the workload in
fresh JVMs started with `java -cp` (sbt stays out of every metric), checks
the outputs against computations made apart from the program, and prints the
metrics as the last line of standard output. Everything it writes goes under
.bench_build/ in the checkout. See perfbench/README.md.
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
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BB = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
FIXTURE = os.path.join(HERE, "fixture", "sf0.001")
WORKLOADS = ("shelve", "ingest", "catalog")
# One driver runs the whole pass, traced or not. After it, this many more
# drivers start and stop right after set-up; setup_s is the median of all
# the set-ups of the run.
SETUP_ONLY_DRIVERS = 1
# per driver; the drivers and the checks stay within three minutes
JVM_TIMEOUT_S = {"catalog": 600}
JVM_TIMEOUT_DEFAULT_S = 140
SETUP_TIMEOUT_S = 30
BUILD_TIMEOUT_S = 850
# JDK 17 module opens Spark needs outside spark-submit (as in the root build.sbt)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for dp, dn, fn in os.walk(r):
            dn[:] = sorted(d for d in dn if d not in ("target", "project"))
            files += [os.path.join(dp, f) for f in fn if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: no program to build here (build.sbt and src/main are missing)")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BB, "classpath.txt"), os.path.join(BB, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    os.makedirs(BB, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building the program and the harness with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(BB, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    cps = [ln.strip() for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        raise SystemExit(f"perfbench: build failed (see {BB}/build.log)")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def inputs_for(workload, seed):
    if workload == "catalog":
        d = os.path.join(BB, "inputs", "catalog")
        if not os.path.exists(os.path.join(d, "counts.properties")):
            os.makedirs(d, exist_ok=True)
            import pyarrow.parquet as pq
            with open(os.path.join(d, "counts.properties.tmp"), "w") as f:
                for t in checks.TABLES:
                    shutil.copyfile(os.path.join(FIXTURE, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
                    f.write(f"{t}={pq.ParquetFile(os.path.join(d, f'{t}.parquet')).metadata.num_rows}\n")
            os.replace(os.path.join(d, "counts.properties.tmp"), os.path.join(d, "counts.properties"))
        return d, {"fixture": "sf0.001", "rows": sum(
            int(ln.split("=")[1]) for ln in open(os.path.join(d, "counts.properties")))}
    # keyed by the generator's source too, so a changed generator never
    # reuses inputs it did not write
    with open(gen.__file__, "rb") as f:
        gen_stamp = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BB, "inputs", workload, f"{gen_stamp}-seed-{seed}")
    return d, gen.generate(workload, seed, d)


def host_noise():
    """Cumulative steal seconds (/proc/stat) and the 1-minute load average."""
    steal = None
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        pass
    try:
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
    except (OSError, ValueError):
        load = None
    return steal, load


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, workload, inputs, seed, trace, passes, setup_only, tag):
    """Start one workload JVM; return (record, seconds from launch to set-up done)."""
    local = os.path.join(BB, "spark-local")
    tmp = os.path.join(BB, "tmp")
    for d in (local, tmp, os.path.join(BB, "logs")):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(BB, "runs", f"{tag}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    # a fixed heap and young generation, so the resident set follows the
    # program's allocations rather than the collector's sizing heuristics
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--inputs", inputs,
            "--work", os.path.join(BB, "work", workload), "--out", out, "--trace", "1" if trace else "0",
            "--seed", str(seed), "--passes", str(passes), "--setup-only", "1" if setup_only else "0"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_EXTRA_CONF=";".join([
        "spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions",
        f"spark.local.dir={local}", f"spark.sql.warehouse.dir={os.path.join(BB, 'warehouse')}"]))
    with open(os.path.join(BB, "logs", f"{tag}.log"), "w") as lf:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=BB, env=env, stdin=subprocess.DEVNULL, stdout=lf, stderr=lf,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=SETUP_TIMEOUT_S if setup_only else
                        JVM_TIMEOUT_S.get(workload, JVM_TIMEOUT_DEFAULT_S))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"perfbench: {workload} JVM timed out (see .bench_build/logs/{tag}.log)")
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: {workload} JVM exited with {rc} (see .bench_build/logs/{tag}.log)")
    with open(out) as f:
        rec = json.load(f)
    return rec, rec["setup_done_epoch_ms"] / 1e3 - t0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # more passes in one traced driver show warm passes (used for README figures)
    ap.add_argument("--passes", type=int, default=1)
    a = ap.parse_args()
    if a.passes > 1 and not a.trace:
        raise SystemExit("perfbench: --passes needs --trace 1")

    cp = build()
    t_gen = time.time()
    inputs, facts = inputs_for(a.workload, a.seed)
    gen_s = time.time() - t_gen
    steal0, load0 = host_noise()
    t0 = time.time()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    rec, setup = run_jvm(cp, a.workload, inputs, a.seed, a.trace, a.passes, False, tag)
    setups, setup_cpus = [setup], [rec["setup_cpu_s"]]
    for i in range(SETUP_ONLY_DRIVERS):
        r, s = run_jvm(cp, a.workload, inputs, a.seed, a.trace, 1, True, f"{tag}-setup{i}")
        setups.append(s)
        setup_cpus.append(r["setup_cpu_s"])
    run_s = time.time() - t0
    steal1, load1 = host_noise()
    t_chk = time.time()
    problems = checks.CHECKS[a.workload](inputs, rec["check_dir"])
    check_s = time.time() - t_chk
    for p in problems[:20]:
        log(f"CHECK FAILED {p}")

    samples = rec["samples"]
    good = [s for s in samples if s["ok"]]
    walls = [s["build_s"] + s["run_s"] for s in good]
    attempted, failed = len(samples), len(samples) - len(good)
    cpu = sum(s["cpu_s"] for s in good)
    e2e = {
        "setup_s": statistics.median(setup_cpus),
        "rows_per_cpu_s": sum(s["rows"] for s in good) / cpu if cpu else 0.0,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    # wall-clock figures, recorded but not gated: host steal moves them by
    # tens of percent between runs (see README.md)
    wall = {
        "setup_wall_s": statistics.median(setups),
        "rows_per_s": sum(s["rows"] for s in good) / sum(walls) if walls else 0.0,
        "op_p50_s": statistics.median(walls) if walls else 0.0,
        "op_cpu_p50_s": statistics.median(s["cpu_s"] for s in good) if good else 0.0,
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.trace:
        values, names = dict(rec["trace"], **rec["kernels"]), spec["per_layer"]
    else:
        values, names = e2e, spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in names}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_stamp": source_stamp(), "inputs": facts,
        "attempted": attempted, "failed": failed, "problems": problems,
        "metrics": {k: v["value"] for k, v in metrics.items()}, "end_to_end": e2e, "wall": wall,
        "noise": {"steal_s": None if steal0 is None else round(steal1 - steal0, 3),
                  "load_before": load0, "load_after": load1,
                  "jit_s": rec["jit_timed_s"], "gc_s": rec["gc_timed_s"], "slots": rec["slots"]},
        "versions": {"spark": rec["spark_version"], "java": rec["java_version"], "jvm": rec["jvm"]},
        "times": {"gen_s": round(gen_s, 3), "setups_s": setups, "setup_cpus_s": setup_cpus,
                  "timed_s": rec["timed_s"], "check_dump_s": rec["check_dump_s"],
                  "check_s": round(check_s, 3), "jvm_total_s": round(run_s, 3)},
    }
    if a.trace:
        record["trace_detail"] = {k: rec["trace"][k] for k in ("ops", "per_pass")}
    os.makedirs(os.path.join(BB, "records"), exist_ok=True)
    with open(os.path.join(BB, "records", f"{tag}-{int(time.time() * 1000)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "git_sha", "inputs", "noise", "times")}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
