#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the harness and the
library with sbt (offline); later calls reuse the build while the sources
are unchanged. Workloads, metrics and the layer map are described in
perfbench/README.md and listed in BENCHMARK.json.

--trace 0 prints every end-to-end metric. --trace 1 alternates untraced and
traced passes in one JVM and prints every per-layer metric (spans plus Spark
counters), writing the spans to perfbench/.work/<run>/trace.json.
The last line of stdout is always the JSON result object.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

SETTINGS = M.SETTINGS
GEN_REPEATS = 3          # set-up repeats whose median is setup_s's share
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# what `spark-submit` would pass on JDK 17 (the root build's javaOptions)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ host

def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def heap():
    """The tier-1 heap rule: half of MemTotal in GiB, clamped to 2..8."""
    g = mem_total_kb() // 2097152
    return f"{min(max(g, 2), 8)}g"


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown"


def cpu_ticks():
    """(steal, busy + steal) jiffies of all CPUs, from /proc/stat, as the
    harness reads them per pass."""
    with open("/proc/stat") as fh:
        # user nice system idle iowait irq softirq steal
        t = [int(x) for x in fh.readline().split()[1:]]
    steal = t[7] if len(t) > 7 else 0
    return steal, t[0] + t[1] + t[2] + t[5] + t[6] + steal


def host_block(args, result, steal_share):
    return {
        "nproc": os.cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "cpu_model": cpu_model(),
        "xmx": heap(),
        "jdk": result.get("jdk"),
        "spark": result.get("spark"),
        "scala": result.get("scala"),
        "master": f"local[{result.get('cpus')}]",
        "shuffle_partitions": result.get("cpus"),
        "workload": args.workload,
        "timed_action": SETTINGS["timed_action"][args.workload],
        "sf_dir": SETTINGS["query_sweep"]["sf_dir"],
        "seed": args.seed,
        "confirm_seed": SETTINGS["confirm_seed"],
        "query_sweep_queries": SETTINGS["query_sweep"]["queries"],
        "passes": len(result.get("passes", [])),
        # CPU time the hypervisor gave to other guests while the JVM ran: a
        # busy host slows every timing of the run by about this share
        "steal_share": steal_share,
    }


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: run from a repository checkout "
                         "(no build.sbt / src/main/scala next to perfbench/)")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library + harness (sbt compile)")
    t0 = time.monotonic()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
         f"-J-Djava.io.tmpdir={tmp}", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") and "classes" in ln]
    if not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.monotonic() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- inputs

def file_digest(d):
    h = hashlib.sha256()
    for sub, _, names in sorted(os.walk(d)):
        for name in sorted(names):
            path = os.path.join(sub, name)
            h.update(os.path.relpath(path, d).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, run_dir):
    """Generate the inputs GEN_REPEATS times; return (dir, median seconds,
    byte-identical?). query_sweep reads the committed tables instead."""
    if workload == "query_sweep":
        return None, 0.0, True
    times, digests, dirs = [], [], []
    for k in range(GEN_REPEATS):
        d = os.path.join(run_dir, f"input{k}")
        t0 = time.perf_counter()
        gen.GENERATORS[workload](seed, d)
        times.append(time.perf_counter() - t0)
        digests.append(file_digest(d))
        dirs.append(d)
    for d in dirs[1:]:
        shutil.rmtree(d)
    return dirs[0], statistics.median(times), len(set(digests)) == 1


# ------------------------------------------------------------------- JVM

def run_jvm(cp, workload, input_dir, run_dir, seconds, trace):
    out = os.path.join(run_dir, "trace.json" if trace else "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sf = os.path.join(ROOT, SETTINGS["query_sweep"]["sf_dir"])
    # no hsperfdata file outside the checkout; temp files stay in run_dir
    cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData", *ADD_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--sf", sf, "--work", run_dir,
            "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0"])
    if input_dir:
        cmd += ["--input", input_dir]
    if workload == "query_sweep":
        cmd += ["--queries", ",".join(SETTINGS["query_sweep"]["queries"])]
    jlog = os.path.join(run_dir, "jvm.log")
    with open(jlog, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(out):
        with open(jlog) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"perfbench: {workload} JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cp = build()
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    input_dir, gen_s, identical = generate(args.workload, args.seed, run_dir)

    steal0, total0 = cpu_ticks()
    result = run_jvm(cp, args.workload, input_dir, run_dir, args.seconds,
                     args.trace)
    steal1, total1 = cpu_ticks()
    steal_share = (steal1 - steal0) / max(total1 - total0, 1)
    sf_dir = os.path.join(ROOT, SETTINGS["query_sweep"]["sf_dir"])
    checks = M.check(args.workload, result, input_dir, sf_dir, ROOT)
    if not identical:
        checks.fail("generator output differs between repeats of one seed")
    if not args.trace:
        metrics = M.end_to_end(args.workload, result, gen_s, checks,
                               input_dir, sf_dir)
    else:
        metrics, summary = M.per_layer(args.workload, result, checks)
        with open(os.path.join(run_dir, "trace_summary.json"), "w") as f:
            json.dump(summary, f, indent=2)
        for name, row in summary["top_level"].items():
            log(f"span {name}: {row['s']:.3f} s, self {row['self_s']:.3f} s")
        log(f"spans: {os.path.join(run_dir, 'trace.json')}")

    print(json.dumps({"host": host_block(args, result, steal_share),
                      "query_tail_pct": checks.values.get("query_tail_pct"),
                      "timed_passes_raw_s": checks.values.get("timed_passes_raw_s"),
                      "timed_passes_steal_share":
                          checks.values.get("timed_passes_steal_share"),
                      "checks": checks.notes[:20]}))
    print(result_line(checks, metrics))
    return 0


def result_line(checks, metrics):
    """The benchmark's last stdout line."""
    return json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


if __name__ == "__main__":
    sys.exit(main())
