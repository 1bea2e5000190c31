#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload snb-interactive --seed 1 --seconds 20 --trace 0

Builds the library and the benchmark from source with the repository's
own sbt build (offline; the first run in a checkout compiles), then runs
the benchmark's JVM directly. All scratch data lives under
perfbench/work/ in the checkout and the run's own part of it is removed
on exit. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 prints the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
The exit code is non-zero, and no result is printed, when the workload
cannot complete.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("snb-interactive", "analytics-corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: library sources, both build
    definitions, the benchmark's sources."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, capture):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out or ""
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise


def build():
    """Compile with sbt offline (the repository's coursier and sbt
    offline settings) unless the sources are unchanged since the last
    build in this checkout; return the runtime classpath."""
    want = stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    t0 = time.time()
    code, out = run_bounded(cmd, HERE, env, BUILD_TIMEOUT_S, capture=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def cpu_steal():
    """(steal, total) CPU jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f[:8])
    except (OSError, ValueError, IndexError):
        return None


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main():
    # a terminated run still stops its JVM (run_bounded kills the group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        raise SystemExit("perfbench: --seconds must be >= 1")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the graft sources (build.sbt, src/main/scala/graft) "
                         "are not in this checkout; nothing to benchmark")

    cp = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", os.path.join(run_dir, "data"),
              "--trace-dir", os.path.join(WORK, "traces")])
    steal0 = cpu_steal()
    try:
        code, out = run_bounded(cmd, ROOT, env, RUN_TIMEOUT_S, capture=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    steal1 = cpu_steal()
    if steal0 and steal1 and steal1[1] > steal0[1]:
        # time the hypervisor gave this VM's CPUs to others: it slows every
        # timing of the run alike, so it is logged for reading the figures
        log(f"cpu steal during the run: "
            f"{100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]):.1f}%")
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not valid_result(lines[-1]):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"perfbench: {a.workload} did not complete (exit {code})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
