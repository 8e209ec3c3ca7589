#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 lakebench/run.py --workload cdc_ingest --seed 1 --seconds 10 --trace 0
    python3 lakebench/run.py --workload all --seed 1

`--workload all` runs every workload in turn and exits non-zero if any of
them fails or reports a mismatch.

The first run builds the engine and the benchmark driver with sbt (offline)
and keeps the classpath under lakebench/target; later runs reuse it until a
source file changes. The driver's stdout is passed through; its last line is
the result JSON. Spark's own logging goes to lakebench/work/logs.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch")
# class-data-sharing archive of the classes a run loads: the first run after
# a build writes it at exit, later runs map it instead of loading the classes
ARCHIVE = os.path.join(LAUNCH, "classes.jsa")
WORK = os.path.join(HERE, "work")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# the engine's build inputs, then the driver's own
SOURCES = [os.path.join(ROOT, p) for p in ("build.sbt", "project/build.properties", "src/main")] + \
    [os.path.join(HERE, p) for p in ("build.sbt", "project/build.properties", "src")]


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out after {timeout} s")
    return proc.returncode, out


def build():
    digest = source_digest()
    stamp = os.path.join(LAUNCH, "sources.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        (["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []) + ["-Dsbt.offline=true", "-Xmx3g"]))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", "build.log")
    with open(log_path, "w") as log:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"build failed (exit {code}); see {log_path}")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as f:
        f.write(digest)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the engine's sources (build.sbt, src/main/scala) are not in this checkout")
    build()
    if args.workload != "all":
        run_workload(spec, args)
        return
    failed = []
    for name in names:
        print(f"== {name}", flush=True)
        code = subprocess.run([sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                               "--seconds", str(args.seconds), "--trace", str(args.trace)]).returncode
        if code != 0:
            failed.append(name)
    if failed:
        fail(f"failed: {', '.join(failed)}")


def run_workload(spec, args):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(os.path.join(LAUNCH, "jvm-options.txt")) as f:
        jvm = [line.strip() for line in f if line.strip()]
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        classpath = f.read().strip()
    cds = f"-XX:SharedArchiveFile={ARCHIVE}" if os.path.exists(ARCHIVE) \
        else f"-XX:ArchiveClassesAtExit={ARCHIVE}"
    # JVM warnings (e.g. classes the archive skips) go to stderr: stdout
    # must end with the result line
    cmd = ["java", "-Xlog:disable", "-Xlog:all=warning:stderr", cds, *jvm,
           "-Xmx3g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", classpath, "graft.lakebench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", WORK]
    log_path = os.path.join(WORK, "logs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as log:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=log, stdin=subprocess.DEVNULL, text=True)
    lines = out.splitlines()
    if code != 0 or not lines:
        sys.stdout.write(out)
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"driver exited with {code}; see {log_path}")

    result = json.loads(lines[-1])
    want = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(result.get("metrics", {})) != want:
        fail(f"driver reported {sorted(result.get('metrics', {}))}, BENCHMARK.json lists {sorted(want)}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
