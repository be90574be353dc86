#!/usr/bin/env python3
"""Dedup pipeline benchmark: build, launch, and report.

Run from the root of a checkout:

    python3 perfbench/run.py --workload febrl-balanced --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

The first call compiles the library and the benchmark with sbt (offline)
and caches the launch line under perfbench/target/; later calls start the
JVM directly. One workload prints every metric as `name value unit` and,
as its last line, one JSON object with `correct`, `attempted`, `failed`
and `metrics`. `--workload all` runs every workload untraced and traced
and prints the per-workload lines only. The exit code is non-zero when a
build fails, a run crashes or times out, or any output check fails.
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
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    out = []
    for base, dirs in ((ROOT, ["src/main", "project"]), (HERE, ["src/main", "project"])):
        for name in ("build.sbt",):
            p = os.path.join(base, name)
            if os.path.isfile(p):
                out.append(p)
        for d in dirs:
            for dirpath, dirnames, files in os.walk(os.path.join(base, d)):
                dirnames[:] = sorted(x for x in dirnames if x not in ("target", "project"))
                out += [os.path.join(dirpath, f) for f in sorted(files)
                        if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own scratch files stay in the checkout too
    env["JAVA_OPTS"] = " ".join([env.get("JAVA_OPTS") or "-Dfile.encoding=UTF-8",
                                 "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"])
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath_state(launch):
    """Path, size and mtime of every file on the launch classpath, so that
    classes another build rewrote or deleted force a rebuild."""
    cp = launch[launch.index("-cp") + 1] if "-cp" in launch else ""
    h = hashlib.sha256()
    for entry in cp.split(os.pathsep):
        files = [entry]
        if os.path.isdir(entry):
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(entry) for f in fs)
        for p in files:
            try:
                st = os.stat(p)
                h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
            except OSError:
                h.update(f"{p}\0missing\n".encode())
    return h.hexdigest()


def read_launch():
    with open(LAUNCH) as g:
        return [l for l in g.read().splitlines() if l]


def build():
    """Compile when the sources or the built classes changed since the last
    build; returns the JVM launch arguments."""
    s = stamp()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        launch = read_launch()
        with open(STAMP) as f:
            if f.read().split() == [s, classpath_state(launch)]:
                return launch
    log("building library and benchmark with sbt")
    r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true", "writeLaunch"],
                       cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        log(f"build failed (sbt exit {r.returncode})")
        sys.exit(2)
    launch = read_launch()
    with open(STAMP, "w") as f:
        f.write(f"{s} {classpath_state(launch)}\n")
    return launch


def run_java(launch, workload, seed, seconds, trace, echo):
    """One JVM for one workload; returns (exit code, stdout lines)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed, pre-touched heap: peak RSS then moves with the program's
    # native memory, not with how far the collector happened to grow
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + launch
           + ["graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--work", WORK])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    lines = []

    def stop(*_):
        p.kill()
        p.wait()
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGALRM, lambda *_: (log(f"{workload}: timed out"), stop()))
    signal.alarm(RUN_TIMEOUT_S)
    try:
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            if echo:
                print(lines[-1], flush=True)
        p.wait()
    finally:
        signal.alarm(0)
        if p.poll() is None:
            p.kill()
            p.wait()
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("the library sources are missing next to perfbench/; nothing to benchmark")
        sys.exit(2)
    launch = build()

    if a.workload != "all":
        code, lines = run_java(launch, a.workload, a.seed, a.seconds, a.trace, echo=True)
        if code != 0 or not lines or not lines[-1].startswith("{"):
            log(f"{a.workload}: run failed (exit {code})")
            sys.exit(code or 1)
        return

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    bad = 0
    for name in names:
        for trace in (0, 1):
            code, lines = run_java(launch, name, a.seed, a.seconds, trace, echo=False)
            print(f"== {name} trace {trace} (exit {code})")
            print("\n".join(l for l in lines if not l.startswith("{")), flush=True)
            bad += code != 0
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
