#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload star_olap|pipeline \
        --seed N --seconds S --trace 0|1 [--sf 0.01]

Run from the root of a checkout. Builds the harness (and, through it, the
program) with sbt on first use, generates the inputs, runs the workload in
one JVM and prints one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the spans
with each layer's self time are written to .bench_build/trace/.
Apart from sbt's target/ directories, everything the run writes stays
under .bench_build/ in the checkout.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("star_olap", "pipeline")
# a run must end within 180 s
JVM_TIMEOUT_S = 160
GEN_REPEATS = 3


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash():
    """Hash of the checkout's location and everything the build compiles, so
    a checkout rebuilds only when its sources change."""
    h = hashlib.sha256(ROOT.encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for pattern in ("src/main/**/*.scala", "src/main/**/*.java",
                    "perfbench/src/**/*.scala", "project/*.properties",
                    "project/*.sbt", "perfbench/project/*.properties"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources next to perfbench/; "
                         "run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, f"classpath-{sources_hash()}")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    log("building (sbt compile)")
    t0 = time.monotonic()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's scratch files go under .bench_build/ too
    rc, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        850, cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = out.strip().splitlines()
    if rc != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        fh.write(classpath)
    log(f"built in {time.monotonic() - t0:.1f} s")
    return classpath


def generate(data_dir, sf):
    """Generate the inputs GEN_REPEATS times; return the median seconds."""
    times = []
    for _ in range(GEN_REPEATS):
        shutil.rmtree(data_dir, ignore_errors=True)
        t0 = time.monotonic()
        rc, _ = run_group([sys.executable, os.path.join(HERE, "gen.py"), data_dir, str(sf)], 170)
        if rc != 0:
            raise SystemExit(f"perfbench: input generation failed ({rc})")
        times.append(time.monotonic() - t0)
    return statistics.median(times)


JVM_OPTS = ["-Xmx3g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group and wait for it; on a timeout or any
    exception (SIGTERM included) kill the whole group and wait again."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def jvm(classpath, work, args, timeout=JVM_TIMEOUT_S):
    """Run perfbench.Main; its stdout and stderr go to our stderr."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Main", "--work", work, *args]
    try:
        return run_group(cmd, timeout, stdout=sys.stderr, stderr=sys.stderr)[0]
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: JVM did not finish within {timeout} s")


def main():
    # a SIGTERM unwinds like an exception, so every child group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()

    classpath = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen_s = generate(data, args.sf)
        digests = os.path.join(HERE, f"digests_sf{args.sf:g}.tsv")
        out = os.path.join(work, "result.json")
        rc = jvm(classpath, work, [
            "--mode", "run", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--digests", digests, "--out", out])
        if rc != 0 or not os.path.isfile(out):
            raise SystemExit(f"perfbench: harness exited with {rc}")
        with open(out) as fh:
            res = json.load(fh)
        if args.trace:
            trace_dir = os.path.join(BUILD, "trace")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["metrics"]
    if not args.trace:
        values["setup_s"] += gen_s
    log(f"output check: {res['checked']} checked, {res['check_failed']} failed; "
        f"{res['passes']} timed passes, tail = p{res['tail_percentile']}")
    # BENCHMARK.json names the metrics and their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in spec if values.get(m["name"]) is None]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in spec},
    }))


if __name__ == "__main__":
    main()
