#!/usr/bin/env python3
"""Benchmark entry point: builds the engine, runs one workload, checks its
outputs and prints the result as one JSON object on the last stdout line.

    python3 perfbench/run.py --workload oms_dir --seed 1 --seconds 10 --trace 0

Run it from the repository root. See perfbench/README.md for the workloads
and metrics. Exit status: 0 with correct outputs, 1 with a wrong output,
2 when the benchmark could not run (no result is printed then).
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import omsgen  # noqa: E402

WORKLOADS = ("oms_dir", "doc_stream")
# The sf0.1 test tables (TESTDATA.md) the doc_stream workload reads.
DEFAULT_SF_DIR = "/root/testdata/sf0.1"
# A run must end within this many seconds once the build is done.
RUN_BUDGET_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


def source_stamp(root):
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation the engine compiles against: $SPARK_HOME, or
    the first spark-submit on the PATH that sits in one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                f.startswith("spark-core") for f in os.listdir(jars)):
            return home
    raise BenchError("no Spark installation: set SPARK_HOME")


def build(root):
    """Compiles engine + driver with sbt when the sources changed; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise BenchError("no engine sources under %s/src/main/scala" % root)
    stamp = source_stamp(root)
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "source.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
        "-Dsbt.repository.config=%s" % os.path.expanduser(
            "~/.sbt/repositories"),
        "-Xmx2g"])
    log("building (sbt benchClasspath) ...")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.supershell=false",
         "benchClasspath"], cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, timeout=800)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise BenchError("build failed")
    log("built in %.0f s" % (time.time() - t0))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def run_jvm(cp, argv, work, deadline):
    """Runs the driver JVM in its own process group; kills the group if it
    outlives the deadline."""
    # a fixed young generation and initial heap: with adaptive sizing the
    # heap grew at GC-timing-dependent points, and the peak RSS of five
    # doc_stream runs, all the same amount of work, spread by 14 %
    cmd = ["java", "-Xms2g", "-Xmx3g", "-Xmn512m",
           "-XX:-UseAdaptiveSizePolicy", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dfile.encoding=UTF-8",
           "-Dsun.jnu.encoding=UTF-8"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + argv
    env = dict(os.environ, LANG="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise BenchError("driver JVM exceeded the time budget")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise BenchError("driver JVM exited with %d" % rc)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # a run times one cold round, however long (see README); the window is
    # part of the command line every run gets, and is recorded
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        cp = build(root)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log("error: %s" % e)
        return 2
    deadline = time.time() + RUN_BUDGET_S
    if args.workload == "doc_stream" and not os.path.isdir(args.sf_dir):
        log("error: no test tables at %s" % args.sf_dir)
        return 2
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(BENCH, ".work"))
    try:
        os.makedirs(os.path.join(work, "tmp"))
        ctx = {"gen_s": 0.0, "gen_cpu_s": 0.0}
        if args.workload == "oms_dir":
            t0, c0 = time.perf_counter(), time.process_time()
            ctx["truth"] = omsgen.generate(os.path.join(work, "inputs"),
                                           args.seed)
            ctx["gen_s"] = time.perf_counter() - t0
            ctx["gen_cpu_s"] = time.process_time() - c0
        obs_path = os.path.join(work, "obs.json")
        run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                     "--trace", str(args.trace), "--work", work,
                     "--sf-dir", args.sf_dir, "--out", obs_path],
                work, deadline)
        with open(obs_path) as f:
            obs = json.load(f)
        obs["seconds"] = args.seconds
        problems = (metrics.check_oms(obs, ctx["truth"])
                    if args.workload == "oms_dir" else [])
        for p in problems:
            log("WRONG OUTPUT: " + p)
        walls = (recorded_walls(args, obs) if args.trace == 1 else None)
        result = metrics.assemble(obs, ctx, problems, walls)
        save_report(args, obs, ctx, result)
    except BenchError as e:
        log("error: %s" % e)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def recorded_walls(args, obs):
    """(traced, round wall seconds) of this run and of every other run of
    the workload whose record is under perfbench/out/."""
    walls = [(True, obs["round"]["wall_s"])]
    this = report_name(args)
    for path in sorted(glob.glob(os.path.join(
            BENCH, "out", "%s-seed*-trace*.json" % args.workload))):
        if os.path.basename(path) == this:
            continue
        try:
            with open(path) as f:
                rnd = json.load(f)["observations"]["round"]
            walls.append((rnd["traced"], rnd["wall_s"]))
        except (OSError, ValueError, KeyError, TypeError):
            continue  # a record from another version of the benchmark
    return walls


def report_name(args):
    return "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace)


def save_report(args, obs, ctx, result):
    """Writes the run's full record (spans included when traced, and the
    calibration bracket) under perfbench/out/, and a summary to stderr."""
    out = os.path.join(BENCH, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, report_name(args)), "w") as f:
        json.dump({"result": result, "observations": obs}, f)
    primary = [o["s"] for o in obs["ops"]
               if o["kind"] == metrics.PRIMARY_OP[args.workload]]
    p90 = metrics.tail_percentile(primary, 90)
    op_s = metrics.op_latency(obs)
    log("cal [%.3f, %.3f] s; wall: set-up %.3f s, round %.3f s, "
        "%s p50 %s, p90 %s" % (
        obs["cal"][0], obs["cal"][1], metrics.setup_wall_s(obs, ctx),
        obs["round"]["wall_s"],
        metrics.PRIMARY_OP[args.workload],
        "%.3f s" % op_s if op_s is not None else "none",
        "%.3f s" % p90 if p90 is not None else
        "not reported (fewer than 10 samples beyond it)"))
    for k, v in sorted(result["metrics"].items()):
        log("%-40s %14.4f %s" % (k, v["value"], v["unit"]))


if __name__ == "__main__":
    sys.exit(main())
